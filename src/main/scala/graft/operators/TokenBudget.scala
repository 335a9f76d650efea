package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token-budget SELECTION — the curation step that turns "everything we
  * crawled" into "what we can afford to train on": within each domain,
  * documents are taken best-quality-first until the domain's token
  * budget is exhausted (whole documents — the DataComp/FineWeb
  * discipline; the first document that would cross the budget line and
  * everything after it is dropped, and the audit columns say exactly
  * where the line fell).
  *
  * Scale shape, the [[Mixture]] trick again: a per-domain
  * `sum over (PARTITION BY domain ORDER BY quality)` window would
  * collapse each domain to ONE task — and domains are few and huge, the
  * worst possible skew. Instead ONE global exclusive running total over
  * (domain, −quality, id) ([[GlobalRank.withRunningTotal]] — domains
  * are contiguous in that order) minus each domain's broadcast token
  * offset (a #domains-row aggregate) yields the within-domain
  * cumulative. One range shuffle regardless of domain skew,
  * deterministic under the (quality, id) total order.
  */
object TokenBudget {

  /** Every input row + `dom_rank` (1-based best-first within domain),
    * `cum_before` (domain tokens before this doc), and `kept`
    * (cum_before + n_tokens ≤ budget — whole docs only). Budgets are
    * per-domain; a domain absent from `budgets` fails loudly.
    */
  def selectUnderBudget(
      df: DataFrame,
      domainCol: String,
      qualityCol: String,
      idCol: String,
      nTokensCol: String,
      budgets: Seq[(String, Long)]): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_._2 >= 0), "budgets must be >= 0")
    require(budgets.map(_._1).distinct.size == budgets.size, "duplicate domain in budgets")
    // ONE fused global stamp (rank + exclusive running total) over
    // (domain, best-quality-first, id) — a single range exchange; the
    // unfused version paid the same shuffle twice (measured 2.2 GB →
    // 1.1 GB shuffle read at 20M docs; historical, removed `graft.Stress` main)
    val ordered = df.withColumn("_negq", -col(qualityCol))
    val rn = GlobalRank.withRowNumberAndRunningTotal(
      ordered, Seq(domainCol, "_negq", idCol), nTokensCol,
      rnCol = "_grn", cumCol = "_gcum")
    // … minus each domain's broadcast offsets (rows + tokens in
    // lexicographically EARLIER domains)
    val w = org.apache.spark.sql.expressions.Window.orderBy("_dom")
      .rowsBetween(Long.MinValue, -1)
    val offsets = df.groupBy(col(domainCol).as("_dom"))
      .agg(count(lit(1)).as("_rows"),
        sum(coalesce(col(nTokensCol).cast("long"), lit(0L))).as("_toks"))
      .withColumn("_rowOff", coalesce(sum(col("_rows")).over(w), lit(0L)))
      .withColumn("_tokOff", coalesce(sum(col("_toks")).over(w), lit(0L)))
      .select(col("_dom"), col("_rowOff"), col("_tokOff"))
    val budgetExpr = budgets.foldRight(lit(null).cast("long")) {
      case ((d, b), acc) => when(col(domainCol) === d, lit(b)).otherwise(acc)
    }
    // null-safe join: a NULL domain must reach the raise_error branch
    // below (an equi-join would silently drop it before the check fires)
    rn.join(broadcast(offsets), col(domainCol) <=> col("_dom"))
      .withColumn("_budget",
        when(budgetExpr.isNull, raise_error(concat(
          lit(s"tokenBudget: $domainCol value without a budget: "), col(domainCol))))
          .otherwise(budgetExpr))
      .withColumn("dom_rank", col("_grn") - col("_rowOff"))
      .withColumn("cum_before", col("_gcum") - col("_tokOff"))
      .withColumn("kept",
        col("cum_before") + coalesce(col(nTokensCol).cast("long"), lit(0L)) <=
          col("_budget"))
      .drop("_negq", "_gcum", "_grn", "_dom", "_rowOff", "_tokOff", "_budget")
  }
}
