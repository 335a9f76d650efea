package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate clustering: near-dup candidate PAIRS (MinHash/SimHash/embedding
  * output) only say "a ~ b"; deduplicating a corpus needs the transitive
  * closure — connected components — so each duplicate GROUP keeps exactly
  * one canonical document.
  *
  * Components are computed by the two-phase STAR ALTERNATION of Kiveris
  * et al., "Connected Components in MapReduce and Beyond" (public
  * algorithm): each round runs
  *
  *  - LARGE-STAR — every node u computes m = min({u} ∪ N(u)) and
  *    reconnects each strictly-LARGER neighbor to m;
  *  - SMALL-STAR — on the resulting (big → small)-oriented edges, every
  *    node u reconnects itself and ALL its smaller neighbors to its
  *    minimum neighbor.
  *
  * Both steps preserve connectivity, keep the edge set ≤ |E| + |V| rows
  * (large-star emits exactly one edge per undirected edge; small-star
  * adds at most one per source node — a high-degree node can never blow
  * up intermediate cardinality), and the alternation provably converges
  * to one star per component — every node pointing directly at its
  * component's minimum — in O(log²) rounds deterministically and
  * O(log n) in expectation under RANDOM id order.
  *
  * ID-ORDER INDEPENDENCE: that expectation is the reason the loop never
  * iterates on caller ids. Min-based component algorithms degrade under
  * adversarial id ORDER (the round-7/8 pointer-doubling loop ground
  * unconverged for 20 minutes on a 100k chain with unpadded string ids,
  * where "c1" < "c10" < … < "c2"; even hash-ORDERED labels still took
  * ~n/3 rounds on a chain, measured 41 rounds at diameter 128, because
  * inter-tree merging is boundary-local). Nodes are therefore first
  * HASH-REMAPPED to dense longs ordered by xxhash64 (a fixed pseudo-random
  * permutation — GlobalRank over (hash, id) makes the longs unique and
  * dense, no birthday-collision component merges); the star alternation
  * runs entirely in long space, where the random order delivers its
  * O(log n) expected bound for ANY caller id alphabet (CurationSpec pins
  * a chain datapoint); and the result is
  * mapped back with component = min ORIGINAL id, so the public contract
  * is unchanged. Per-round shuffles carry 16-byte long rows instead of
  * caller-width ids — for URL-keyed corpora that alone shrinks every
  * round's tables several-fold.
  *
  * One extra ACTION per round: the round's edge set is pinned LAZILY
  * ([[graft.operators.Lineage.pin]] — a localCheckpoint'ed RDD behind a
  * stats-free leaf, because `Dataset.localCheckpoint` itself carries the
  * origin's size stats, which compound k^n across rounds until planning
  * grinds and BigInteger overflows) and the convergence probe both
  * materializes it and answers "is this a star forest yet?" — EXACT test
  * requiring BOTH star-forest conditions: no node is a destination and a
  * source (depth 1), AND no source carries two distinct destinations
  * (unique parent). Depth alone is NOT sufficient — a node can hold
  * parents in two different trees while no destination is itself a
  * source, leaving its component silently split (the loop comment has
  * the concrete 5-path counterexample; PropertySpec pins it). Under both
  * conditions the edge set is a disjoint union of stars, and since both
  * star steps preserve components, that star forest IS the answer.
  * Near-clique near-dup graphs (LSH connects most members pairwise)
  * converge in 1–2 rounds; chains in ~log rounds.
  */
object DupClusters {

  /** Edge sets at or under this many rows fold on the driver (union-find
    * over the collected pairs — identical (node, min-original-id) output)
    * instead of through the distributed star alternation: a batch-sized
    * near-dup graph costs ONE collect where the alternation costs a remap,
    * per-round shuffles and a convergence probe per round — ~15 scheduler
    * round-trips. The collect is bounded by the threshold (two ids per
    * edge — the sanctioned O(small) driver inventory); corpus-scale graphs
    * take the distributed path unchanged. [[IncrementalDedup]]'s rep-merge
    * fast path calls [[driverComponents]] under the same threshold.
    */
  private[graft] val SmallGraphEdges = 100000L

  /** (node, component) for every node appearing in `pairs`; component = min
    * node id reachable. Nodes absent from `pairs` are their own singleton
    * components and are NOT emitted (join back with a left join + coalesce
    * if you need them); degenerate self-pairs (a, a) carry no connectivity
    * and are likewise ignored.
    */
  def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    // project + drop degenerate self-pairs once, cache: BOTH paths read the
    // edge set several times (the alternation's rawEdges union scans the
    // pairs subplan twice otherwise — for LSH-join inputs that recomputes
    // the join), and the size probe that picks the path is a count on the
    // same cache
    val spark = pairs.sparkSession
    val proj = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
      .persist()
    try {
      val nEdges = proj.count()
      val small = nEdges <= SmallGraphEdges && driverOrdering(
        pairs.schema(aCol).dataType, pairs.schema(bCol).dataType).isDefined
      if (small) driverComponents(spark, proj,
        pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
      else componentsDistributed(proj, "src", "dst", maxIter)
    } finally proj.unpersist() // both paths return materialized results
  }

  /** The distributed star alternation without the size probe — the
    * corpus-scale path [[components]] routes big graphs to (and the spec
    * hook pinning its unconverged-failure contract, which the bounded
    * driver path never hits: it is exact in one pass).
    */
  private[graft] def componentsDistributed(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): DataFrame = {
    val (labels, _, converged) = run(pairs, aCol, bCol, maxIter)
    // an unconverged result is WRONG (chains still split) — fail loudly;
    // with the star alternation's O(log n) expected rounds under the
    // hash remap, maxIter=50 covers graphs far beyond any real corpus
    if (!converged)
      throw new IllegalStateException(
        s"components did not converge in $maxIter rounds — component diameter exceeds " +
          s"maxIter; raise maxIter or pre-split the graph")
    labels
  }

  /** Driver-side ordering matching Spark's `min()` over the node type —
    * numeric ascending, strings by unsigned UTF-8 byte order (UTF8String's
    * binary comparison). None = type unsupported, take the distributed
    * path.
    */
  private[graft] def driverOrdering(
      aType: org.apache.spark.sql.types.DataType,
      bType: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    if (aType != bType) return None
    aType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(Ordering.by {
          case l: Long => l
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
          case other => throw new IllegalStateException(s"unexpected id $other")
        })
      case StringType =>
        Some(new Ordering[Any] {
          def compare(x: Any, y: Any): Int = {
            val a = x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val b = y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
            var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) {
              val c = (a(i) & 0xff) - (b(i) & 0xff)
              if (c != 0) return c
              i += 1
            }
            a.length - b.length
          }
        })
      case _ => None
    }
  }

  /** The bounded fast path: union-find with min-original-id roots over the
    * collected edge list — the same (node, component) rows the star
    * alternation converges to, in one collect + one local createDataFrame.
    */
  private[graft] def driverComponents(
      spark: org.apache.spark.sql.SparkSession,
      proj: DataFrame,
      aType: org.apache.spark.sql.types.DataType,
      bType: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = driverOrdering(aType, bType).get
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    proj.collect().foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (a != null && b != null) {
        nodes += a; nodes += b
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
        }
      }
    }
    val rows = nodes.iterator
      .map(n => org.apache.spark.sql.Row(n, find(n)))
      .toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", aType),
      org.apache.spark.sql.types.StructField("component", aType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 50000)),
      schema)
  }

  /** Star-alternation rounds (one large-star + one small-star each) the
    * loop took to converge on `pairs` — the observability twin of
    * [[components]] for spec datapoints (a chain of length n must
    * come in at O(log n) rounds under the hash remap, near-cliques at
    * 1–2).
    */
  def convergenceRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50): Int =
    run(pairs, aCol, bCol, maxIter)._2

  private def run(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int): (DataFrame, Int, Boolean) = {
    val rawEdges = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    // hash-remap caller ids to dense longs in xxhash64 order (see the
    // object doc): kills adversarial id orderings AND shrinks every
    // round's label rows to pure longs. One |V|-sized range exchange +
    // two |E|-sized translation joins, paid ONCE before the loop.
    val mapping = graft.operators.GlobalRank
      .withRowNumber(
        rawEdges.select(col("src").as("_onode")).distinct()
          .withColumn("_h", xxhash64(col("_onode").cast("string"))),
        Seq("_h", "_onode"))
      .select(col("_onode"), col("_rn").as("_nid"))
      .persist()
    // one row per UNDIRECTED edge, (big → small)-oriented — small-star's
    // input contract, and half the rows of a symmetric adjacency
    var edges = graft.operators.Lineage.pin(
      rawEdges
        .join(mapping.select(col("_onode").as("src"), col("_nid").as("_sid")), "src")
        .join(mapping.select(col("_onode").as("dst"), col("_nid").as("_did")), "dst")
        .select(greatest(col("_sid"), col("_did")).as("u"),
          least(col("_sid"), col("_did")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(),
      eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: m(u) = min({u} ∪ N(u)); every neighbor v > u
      // reconnects to m(u). Output stays (big → small)-oriented because
      // v > u ≥ m(u). groupBy-min map-combines; the join back is keyed on
      // the same column, so a hot node is one combiner + one hash bucket.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u"))
        .agg(min(col("v")).as("_mv"))
        .select(col("u").as("_lu"), least(col("u"), col("_mv")).as("_m"))
      val ls = sym.join(lsMin, sym("u") === col("_lu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
      // SMALL-STAR: u and all its (smaller) neighbors reconnect to u's
      // minimum neighbor. The distinct both dedups multi-emitted edges
      // (two neighbors of v sharing a minimum each emit (v, m)) and makes
      // the star test below exact on row counts.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("_m2"))
      val next = graft.operators.Lineage.pin(
        ls.join(ssMin, Seq("u"))
          .filter(col("v") =!= col("_m2"))
          .select(col("v").as("u"), col("_m2").as("v"))
          .union(ssMin.select(col("u"), col("_m2").as("v")))
          .distinct())
      // ONE probe job: materializes the pin AND answers the EXACT star
      // test. A star forest needs BOTH conditions — no node is a
      // destination AND a source (depth 1), and no source carries two
      // distinct destinations (unique parent): "no dst is a src" alone
      // accepts a node with parents in TWO trees, silently splitting its
      // component (a 5-path whose hash ranks run 1-3-4-5-0 along the
      // path converges that way after one round — caught by review and
      // pinned in PropertySpec). Components are preserved by both stars,
      // so a genuine star forest IS the final answer.
      val bad = next
        .select(col("u").as("n"), lit(1L).as("s"), lit(0L).as("d"))
        .union(next.select(col("v").as("n"), lit(0L).as("s"), lit(1L).as("d")))
        .groupBy(col("n"))
        .agg(sum(col("s")).as("s"), sum(col("d")).as("d"))
        .filter((col("s") > 0 && col("d") > 0) || col("s") > 1)
        .count()
      edges = next
      converged = bad == 0
      iter += 1
    }
    // back to caller ids: star edges read directly as (member → root), the
    // root itself added; the long-space root is the min HASH — an internal
    // artifact — so re-key each component to the min ORIGINAL id over its
    // members (the public contract). Two node-sized joins.
    val labels = edges.select(col("u").as("node"), col("v").as("component"))
      .union(edges.select(col("v").as("node"), col("v").as("component")))
      .distinct()
    val members = labels
      .join(mapping, labels("node") === mapping("_nid"))
      .select(col("_onode").as("_member"), col("component"))
    val compMin = members.groupBy(col("component"))
      .agg(min(col("_member")).as("_cmin"))
    // eager: materialize before releasing the caches it reads
    val out = graft.operators.Lineage.pin(
      members.join(compMin, Seq("component"))
        .select(col("_member").as("node"), col("_cmin").as("component")),
      eager = true)
    mapping.unpersist()
    (out, iter, converged)
  }

  /** The corpus with one canonical doc per duplicate cluster: members whose
    * id is NOT the cluster minimum are dropped; docs in no cluster pass
    * through.
    */
  def keepCanonical(corpus: DataFrame, idCol: String, pairsComponents: DataFrame): DataFrame = {
    val losers = pairsComponents
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** The corpus with the BEST doc per duplicate cluster: within each
    * component the member with the highest `qualityCol` survives (tie →
    * smallest id — deterministic), everything else drops; docs in no
    * cluster pass through. The curation-grade survivor policy
    * [[keepCanonical]]'s min-id rule can't express: when near-dups differ
    * (truncation, boilerplate wrappers, OCR noise), keep the longest/
    * cleanest copy, not the one that happens to carry the smallest id.
    *
    * Scale shape: one id-keyed join of the cluster membership onto the
    * corpus quality column, one component-keyed max-of-struct argmax
    * (map-side combined), one anti-join — all membership-sized, never
    * corpus² . `qualityCol` must be integral (cast upstream; exact
    * comparisons, no float ties).
    */
  def keepBest(
      corpus: DataFrame,
      idCol: String,
      qualityCol: String,
      pairsComponents: DataFrame): DataFrame = {
    val members = pairsComponents.select(col("node").as(idCol), col("component"))
    // NULL quality must LOSE, not win: a null struct FIELD sorts first
    // under min(), so an uncoalesced null would beat every real score.
    // MinValue+1 (not MinValue — its negation overflows) ranks nulls last.
    val winners = members
      .join(corpus.select(col(idCol),
        coalesce(col(qualityCol).cast("long"), lit(Long.MinValue + 1)).as("_q")), idCol)
      .groupBy("component")
      // min over (−quality, id): max quality, tie → smallest id
      .agg(min(struct((-col("_q")).as("_nq"), col(idCol).as("_id"))).as("_best"))
      .select(col("_best._id").as(idCol))
    val losers = members.select(col(idCol)).join(winners, Seq(idCol), "left_anti")
    corpus.join(losers, Seq(idCol), "left_anti")
  }
}
