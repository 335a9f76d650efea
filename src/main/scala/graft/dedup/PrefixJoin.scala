package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prefix-filtering EXACT set-similarity self-join (the AllPairs/PPJoin
  * family) — the no-false-negative complement to [[MinHashLsh]]: LSH trades
  * recall for speed probabilistically; prefix filtering prunes the pair
  * space with a provable guarantee, so the output is exactly every pair
  * with Jaccard ≥ t.
  *
  * The guarantee: Jaccard(A,B) ≥ t ⟹ |A∩B| ≥ t·|A| (from o(1+t) ≥
  * t(|A|+|B|) ≥ t(|A|+o)), so with both sets sorted by ONE global token
  * order, A and B must share a token among each side's first
  * n − ⌈t·n⌉ + 1 elements (pigeonhole) — pairs sharing no prefix token
  * cannot reach the threshold and are never generated.
  *
  * The global order is (corpus frequency ASC, token ASC): prefixes are
  * each document's RAREST tokens, so the candidate join is keyed on the
  * thin tail of the Zipf curve — bucket sizes stay small precisely where
  * the join fans out. That ordering is the entire scale story: at 100 TB a
  * frequency-DESC order would put every document's prefix on "the", one
  * quadratic bucket; ASC puts each prefix on near-unique shingles.
  * ⌈t·n⌉ is computed integer-exactly as (n·tNum + tDen − 1) div tDen, and
  * the threshold filter compares o·tDen ≥ tNum·(|A|+|B|−o) in integers, so
  * no floating-point decision anywhere (the emitted `jaccard` double is
  * one correctly-rounded division — engine-portable).
  *
  * Canonical-set collapse: documents with IDENTICAL shingle sets (exact
  * and near-exact duplicates — the bulk of any real dup-heavy corpus) are
  * grouped under one md5 key first, and the expensive machinery runs once
  * per DISTINCT set; member pairs are then expanded join-side. Within a
  * group Jaccard is 1 by definition (≥ any t ≤ 1), and cross-group Jaccard
  * depends only on the two sets, so the expansion is exact — and the
  * quadratic-in-duplicity part of the answer becomes output-sized work
  * instead of repeated join work (historical, by the removed `graft.Stress`
  * main on a 50k-doc 10×-replica corpus: 155 s / 5.3 GB shuffle
  * uncollapsed → the collapsed core runs on the ~5k distinct sets).
  *
  * Plan shape: shingle projection (no shuffle) → set-hash groupBy →
  * frequency agg (map-side combine) → per-set sort + slice → candidate
  * equi-join keyed by prefix shingle → distinct → verify join carrying the
  * two shingle SETS per surviving candidate → output-sized member
  * expansion. Verification via array_intersect is per-pair O(|A|+|B|) on
  * pre-pruned candidates; for corpora with huge single documents,
  * [[NGramJaccard.verifyPairs]] is the unnest-join alternative with the
  * same semantics.
  */
object PrefixJoin {

  /** The canonical-set collapse + frequency-ordered token lists both join
    * flavors run on: `members` (_gid, id), `reps` (_gid, _set), `arr`
    * (_gid, _lst) with _lst sorted (corpus freq ASC, shingle ASC).
    */
  private final case class Collapsed(members: DataFrame, reps: DataFrame, arr: DataFrame)

  private def collapse(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int): Collapsed = {
    // canonical-set collapse: one group per distinct shingle set. Persisted
    // because members (expansion) and reps (core) both read it.
    // '|' cannot occur inside a shingle (tokens are [a-z0-9]+), so the
    // joined sorted set is an injective key. The empty-set filter sits ON
    // TOP of the cache, not under it: pushed below the projection, Catalyst
    // substitutes the alias and evaluates the whole tokenize+shingle
    // expression twice per row during the cache build.
    // _set is VALUE-SORTED at the source: the gid key needs the sorted
    // form anyway, and the verify stage's merge-scan intersect
    // (ArrayFunctions.sortedIntersectSize) requires it
    val keyed = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_t"))
      .select(col(idCol),
        sort_array(NGramJaccard.shingleSetOfTokens(col("_t"), shingleSize)).as("_set"))
      .withColumn("_gid", md5(concat_ws("|", col("_set"))))
      .persist()
      .filter(size(col("_set")) > 0)
    val members = keyed.select(col("_gid"), col(idCol))
    // all sets under a gid are equal, so first() is value-deterministic.
    // NOT persisted: the downstream consumers each prune differently
    // (explode wants _set, the size frames want only its length) and the
    // re-aggregation runs over the already-cached `keyed` — caching the
    // full set arrays here measured 2.6× SLOWER on q137 (the cache write
    // + unpruned array scans cost more than the cheap re-agg).
    val reps = keyed.groupBy(col("_gid")).agg(first(col("_set")).as("_set"))
    val toks = reps.select(col("_gid"), explode(col("_set")).as("_sh"))
    val cnt = toks.groupBy("_sh").agg(count(lit(1)).as("_c"))
    // canonical global order: rarest shingle first, ties by value — the
    // struct sort is (freq, shingle) lexicographic in both engines
    val arr = toks.join(cnt, "_sh")
      .groupBy(col("_gid"))
      .agg(sort_array(collect_list(struct(col("_c"), col("_sh")))).as("_lst"))
    Collapsed(members, reps, arr)
  }

  /** All pairs with shingle-set Jaccard ≥ tNum/tDen: (id_a, id_b, jaccard).
    * Docs with empty shingle sets can match nothing and are dropped.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      tNum: Int = 1,
      tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be in (0, 1]")
    val Collapsed(members, reps, arr) = collapse(df, idCol, textCol, shingleSize)
    val n = size(col("_lst"))
    // prefix length p = n - ceil(t*n) + 1, integer-exact
    val p = (n - floor((n * tNum + (tDen - 1)) / lit(tDen)) + 1).cast("int")
    // prefix tokens carry set size AND 1-based list position: both are
    // candidate-stage pruning levers (below) that no-false-negative bounds
    // justify — at the measured sf0.1 shape they cut the verify load ~2×
    // BEFORE the expensive stage, and the cut deepens with size variance
    val pre = arr
      .select(col("_gid"), n.as("_n"),
        posexplode(slice(col("_lst"), lit(1), p)).as(Seq("_p0", "_s")))
      .select(col("_gid"), col("_n"), (col("_p0") + 1).as("_pos"), col("_s._sh").as("_sh"))
    val cand = pre.select(col("_sh"), col("_gid").as("_ga"), col("_n").as("_na"), col("_pos").as("_pa"))
      .join(pre.select(col("_sh"), col("_gid").as("_gb"), col("_n").as("_nb"), col("_pos").as("_pb")),
        Seq("_sh"))
      .filter(col("_ga") < col("_gb"))
      // size-ratio bound: J ≥ t forces min(na,nb) ≥ t·max(na,nb)
      .filter(col("_na") * tDen >= col("_nb") * tNum &&
        col("_nb") * tDen >= col("_na") * tNum)
      // PPJoin positional bound: a match at (1-based) positions (i, j)
      // caps the overlap at 1 + min(na−i, nb−j); J ≥ t needs
      // o·(tNum+tDen) ≥ tNum·(na+nb). A pair survives if ANY shared
      // prefix token passes — per-row filter before the distinct, so
      // late-prefix-only collisions never reach verification
      .filter((lit(1) + least(col("_na") - col("_pa"), col("_nb") - col("_pb"))) *
        (tNum + tDen) >= (col("_na") + col("_nb")) * tNum)
      .select("_ga", "_gb")
      .distinct()
    val szs = reps.select(col("_gid"), col("_set"), size(col("_set")).as("_n"))
    val corePairs = cand
      .join(szs.select(col("_gid").as("_ga"), col("_set").as("_sa"), col("_n").as("_na")), "_ga")
      .join(szs.select(col("_gid").as("_gb"), col("_set").as("_sb"), col("_n").as("_nb")), "_gb")
      // merge-scan intersect size on the value-sorted sets — codegen'd,
      // no per-pair hash set or intersection array allocation
      .withColumn("_o",
        graft.functions.ArrayFunctions.sortedIntersectSize(col("_sa"), col("_sb")))
      // integer-exact threshold: o/(na+nb-o) >= tNum/tDen
      .filter(col("_o") * tDen >= (col("_na") + col("_nb") - col("_o")) * tNum)
      .select(col("_ga"), col("_gb"),
        (col("_o").cast("double") /
          (col("_na") + col("_nb") - col("_o")).cast("double")).as("jaccard"))
    // expansion (output-sized): same-set pairs are Jaccard 1 exactly;
    // cross-group pairs inherit their groups' Jaccard. least/greatest
    // restores the id_a < id_b orientation regardless of group order.
    val withinPairs = members.select(col("_gid"), col(idCol).as("_ia"))
      .join(members.select(col("_gid"), col(idCol).as("_ib")), Seq("_gid"))
      .filter(col("_ia") < col("_ib"))
      .select(col("_ia").as("id_a"), col("_ib").as("id_b"), lit(1.0).as("jaccard"))
    val crossPairs = corePairs
      .join(members.select(col("_gid").as("_ga"), col(idCol).as("_ia")), "_ga")
      .join(members.select(col("_gid").as("_gb"), col(idCol).as("_ib")), "_gb")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("jaccard"))
    withinPairs.unionByName(crossPairs)
  }

  /** DIRECTED near-superset detection: every ordered pair (id_sub,
    * id_super), sub ≠ super, with containment |A∩B| / |A| ≥ tNum/tDen
    * (A = sub's shingle set, B = super's) — the asymmetric complement to
    * [[jaccardPairs]], catching documents swallowed whole by larger ones
    * (quotes, mirrored sections, doc-in-doc concatenations) that Jaccard
    * misses because the size imbalance caps |A∩B|/|A∪B| at |A|/|B|.
    *
    * Prefix bound: o ≥ ⌈t·n_a⌉ shared shingles means the SUB side must
    * share one of its first n_a − ⌈t·n_a⌉ + 1 rarest tokens with B — but
    * B cannot be prefix-pruned (containment never lower-bounds B's share),
    * so the probe side indexes ALL its tokens. The join still keys on the
    * sub's rare prefix: a rare token's FULL posting list is short, so
    * candidate fan-out stays on the Zipf tail exactly as in the symmetric
    * join — the cost shifts only where a small set holds solely hot
    * tokens, which is the inherent price of the asymmetric semantics.
    *
    * Same canonical-set collapse, integer-exact threshold
    * (o·tDen ≥ tNum·n_a), and output-sized member expansion; same-set
    * groups expand to both directions at containment 1.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      tNum: Int = 2,
      tDen: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold $tNum/$tDen must be in (0, 1]")
    val Collapsed(members, reps, arr) = collapse(df, idCol, textCol, shingleSize)
    val n = size(col("_lst"))
    val p = (n - floor((n * tNum + (tDen - 1)) / lit(tDen)) + 1).cast("int")
    val pre = arr
      .select(col("_gid"), size(col("_lst")).as("_na"),
        posexplode(slice(col("_lst"), lit(1), p)).as(Seq("_p0", "_s")))
      .select(col("_gid").as("_ga"), col("_na"), (col("_p0") + 1).as("_pa"),
        col("_s._sh").as("_sh"))
    // probe side: EVERY token of every set (no prefix prune on the super)
    val allTok = reps
      .select(col("_gid").as("_gb"), size(col("_set")).as("_nb"),
        explode(col("_set")).as("_sh"))
    // size prune, no false negatives: o ≤ |B| and o ≥ ⌈t·n_a⌉ force
    // |B|·tDen ≥ n_a·tNum — supers too small to cover the sub never
    // verify. Sub-side positional bound: a match at 1-based prefix
    // position i caps o at na − i + 1, so (na−i+1)·tDen ≥ na·tNum must
    // hold for the pair to survive via this token (the probe side is
    // unordered, so only the sub contributes a positional bound).
    val cand = pre.join(allTok, Seq("_sh"))
      .filter(col("_ga") =!= col("_gb") && col("_nb") * tDen >= col("_na") * tNum)
      .filter((col("_na") - col("_pa") + 1) * tDen >= col("_na") * tNum)
      .select("_ga", "_gb")
      .distinct()
    val szs = reps.select(col("_gid"), col("_set"), size(col("_set")).as("_n"))
    val corePairs = cand
      .join(szs.select(col("_gid").as("_ga"), col("_set").as("_sa"), col("_n").as("_na")), "_ga")
      .join(szs.select(col("_gid").as("_gb"), col("_set").as("_sb")), "_gb")
      .withColumn("_o",
        graft.functions.ArrayFunctions.sortedIntersectSize(col("_sa"), col("_sb")))
      // integer-exact threshold: o / na >= tNum/tDen
      .filter(col("_o") * tDen >= col("_na") * tNum)
      .select(col("_ga"), col("_gb"),
        (col("_o").cast("double") / col("_na").cast("double")).as("containment"))
    // same-set members contain each other exactly, both directions
    val withinPairs = members.select(col("_gid"), col(idCol).as("_ia"))
      .join(members.select(col("_gid"), col(idCol).as("_ib")), Seq("_gid"))
      .filter(col("_ia") =!= col("_ib"))
      .select(col("_ia").as("id_sub"), col("_ib").as("id_super"), lit(1.0).as("containment"))
    val crossPairs = corePairs
      .join(members.select(col("_gid").as("_ga"), col(idCol).as("_ia")), "_ga")
      .join(members.select(col("_gid").as("_gb"), col(idCol).as("_ib")), "_gb")
      .select(col("_ia").as("id_sub"), col("_ib").as("id_super"), col("containment"))
    withinPairs.unionByName(crossPairs)
  }
}
