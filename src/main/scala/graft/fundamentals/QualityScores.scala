package graft.fundamentals

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fundamental quality scores
  * (transform_fundamental_quality_scores.py:250-521): clip-normalize each
  * metric to 0-100 (fixed bounds per metric; FCF uses the 20th/80th
  * percentile of the whole column), combine into weighted component scores,
  * apply penalty multipliers for shock flags, and derive overall score +
  * quality flags.
  *
  * The FCF percentile bounds use an exact interpolated quantile (sorted
  * row_number + linear interpolation, the same formula as numpy's default) —
  * at 100 TB this is the documented place to switch to approx_percentile;
  * everything else is per-row arithmetic + the statements window pass.
  */
object QualityScores {

  /** clip(x, lo, hi) → (x-lo)/(hi-lo)·100, optional reverse; null passes
    * through (pandas clip/normalize keep NaN). */
  private def norm(x: Column, lo: Column, hi: Column, reverse: Boolean = false): Column = {
    val clipped = least(greatest(x, lo), hi)
    val scaled = (clipped - lo) / (hi - lo)
    val oriented = if (reverse) lit(1.0) - scaled else scaled
    when(x.isNotNull, oriented * 100.0)
  }
  private def norm(x: Column, lo: Double, hi: Double): Column = norm(x, lit(lo), lit(hi))
  private def normRev(x: Column, lo: Double, hi: Double): Column = norm(x, lit(lo), lit(hi), reverse = true)

  /** pandas row-mean (skips nulls; null iff all null). */
  private def meanOf(cols: Column*): Column = {
    val s = cols.map(c => coalesce(c, lit(0.0))).reduce(_ + _)
    val n = cols.map(c => when(c.isNull, 0.0).otherwise(1.0)).reduce(_ + _)
    when(n > 0.0, s / n)
  }

  private def clip100(c: Column): Column =
    when(c.isNotNull, least(greatest(c, lit(0.0)), lit(100.0)))

  /** Interpolated global quantile bounds of fcf (q=0.2 and 0.8) appended as
    * literal columns. The exact-and-distributed global-rank machinery now
    * lives in [[graft.operators.ExactQuantiles]] (promoted round 12 so the
    * curriculum tiering shares one implementation); the interpolation
    * formula and its bit-exactness contract with the DuckDB oracle's
    * franked-window replay are unchanged. */
  private[fundamentals] def withFcfBounds(df: DataFrame): DataFrame = {
    val bs = graft.operators.ExactQuantiles.interpolated(
      df.select(col("fcf_free_cash_flow").as("v")), Seq(0.2, 0.8))
    def dlit(o: Option[Double]): Column =
      o.map(lit).getOrElse(lit(null)).cast("double")
    Statements.stage(df, "fcf_q20" -> dlit(bs(0)), "fcf_q80" -> dlit(bs(1)))
  }

  /** The 18 score columns over [[Statements.full]], memoized per (session,
    * dir) and lineage-truncated — the one truncation point above
    * [[Statements.base]]. The enrichment consumers (as-of joins, trade
    * filters, recommendations, bot orders) then plan against a scan of a
    * one-row-per-customer-quarter frame, not the statement ladder and the
    * score stages. Only the score projection is kept: its lazy input lets
    * the optimizer prune every statement window the scores do not read. */
  def scores(spark: SparkSession, dir: String): DataFrame =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(spark, "scores", dir)) {
      build(spark, dir).select(
        (Seq("symbol_id", "fiscal_q",
          "bs_liquidity_score", "bs_leverage_score", "bs_asset_quality_score",
          "balance_sheet_quality_score", "cf_generation_score", "cf_efficiency_score",
          "cf_sustainability_score", "cash_flow_quality_score", "is_profitability_score",
          "is_margin_score", "is_growth_score", "income_statement_quality_score",
          "overall_quality_score", "is_high_quality", "is_investment_grade",
          "has_red_flags").map(col)): _*)
        .transform(graft.sqlx.Lineage.truncate)
    }

  /** Named score stages, each intermediate computed once in its own select
    * and referenced by name from the next: norms → component means → raw
    * scores → penalties → clips → overall → flags. A Scala `Column` value
    * used in several places inlines its whole tree at each use (and the
    * helpers repeat their arguments), so passing the intermediates on as
    * values grows the analyzed plan to ~22k expression nodes — walked by
    * analysis, optimization, AQE and codegen — for a frame of a few
    * hundred rows; named, it holds ~5k. The IEEE ops and their order are
    * the reference formulas', so the doubles do not depend on the staging. */
  private def build(spark: SparkSession, dir: String): DataFrame = {
    import Statements.stage
    val norms = stage(withFcfBounds(Statements.full(spark, dir)),
      "n_current" -> norm(col("fbs_current_ratio"), 0.5, 2.5),
      "n_quick" -> norm(col("fbs_quick_ratio"), 0.3, 1.5),
      "n_debt_equity" -> normRev(col("fbs_debt_to_equity"), 0.0, 3.0),
      "n_debt_assets" -> normRev(col("fbs_debt_to_assets"), 0.0, 0.8),
      "n_tangible" -> norm(col("fbs_tangible_asset_ratio"), 0.3, 0.95),
      "n_fcf" -> norm(col("fcf_free_cash_flow"), col("fcf_q20"), col("fcf_q80")),
      "n_ocf_margin" -> norm(col("fcf_operating_cf_margin"), 0.05, 0.25),
      "n_ocf_capex" -> norm(col("fcf_ocf_to_capex_ratio"), 0.5, 3.0),
      "n_conversion" -> norm(col("fcf_cash_conversion_ratio"), 0.5, 1.5),
      "n_fcf_yoy" -> norm(col("fcf_free_cash_flow_yoy_pct"), -0.20, 0.30),
      "n_net_margin" -> norm(col("fis_net_margin"), 0.05, 0.25),
      "n_operating_margin" -> norm(col("fis_operating_margin"), 0.05, 0.30),
      "n_gross_margin" -> norm(col("fis_gross_margin"), 0.20, 0.60),
      "n_revenue_yoy" -> norm(col("fis_revenue_yoy_pct"), -0.05, 0.20),
      "n_net_income_yoy" -> norm(col("fis_net_income_yoy_pct"), -0.20, 0.30))
    val components = stage(norms,
      "bs_liquidity" -> meanOf(col("n_current"), col("n_quick")),
      "bs_leverage" -> meanOf(col("n_debt_equity"), col("n_debt_assets")),
      "cf_generation" -> meanOf(col("n_fcf"), col("n_ocf_margin")),
      "cf_efficiency" -> meanOf(col("n_ocf_capex"), col("n_conversion")),
      "cf_sustainability" -> meanOf(col("n_fcf_yoy")),
      "is_profitability" -> meanOf(col("n_net_margin")),
      "is_margin" -> meanOf(col("n_operating_margin"), col("n_gross_margin")),
      "is_growth" -> meanOf(col("n_revenue_yoy"), col("n_net_income_yoy")))
    val raw = stage(components,
      "bs_raw" -> (col("bs_liquidity") * 0.30 + col("bs_leverage") * 0.40 + col("n_tangible") * 0.30),
      "cf_raw" -> (col("cf_generation") * 0.40 + col("cf_efficiency") * 0.30 + col("cf_sustainability") * 0.30),
      "is_raw" -> (col("is_profitability") * 0.40 + col("is_margin") * 0.30 + col("is_growth") * 0.30))
    def penalize(score: Column, flag: String, k: Double): Column =
      when(col(flag) === 1, score * k).otherwise(score)
    val penalized = stage(raw,
      "bs_score" -> penalize(col("bs_raw"), "fbs_liquidity_shock_flag", 0.8),
      "cf_score" -> penalize(penalize(col("cf_raw"), "fcf_negative_free_cash_flow_flag", 0.7),
        "fcf_cash_burn_flag", 0.5),
      "is_score" -> penalize(penalize(col("is_raw"), "fis_negative_net_income_flag", 0.6),
        "fis_revenue_decline_flag", 0.85))
    val clipped = stage(penalized,
      "bs_liquidity_score" -> clip100(col("bs_liquidity")),
      "bs_leverage_score" -> clip100(col("bs_leverage")),
      "bs_asset_quality_score" -> clip100(col("n_tangible")),
      "balance_sheet_quality_score" -> clip100(col("bs_score")),
      "cf_generation_score" -> clip100(col("cf_generation")),
      "cf_efficiency_score" -> clip100(col("cf_efficiency")),
      "cf_sustainability_score" -> clip100(col("cf_sustainability")),
      "cash_flow_quality_score" -> clip100(col("cf_score")),
      "is_profitability_score" -> clip100(col("is_profitability")),
      "is_margin_score" -> clip100(col("is_margin")),
      "is_growth_score" -> clip100(col("is_growth")),
      "income_statement_quality_score" -> clip100(col("is_score")))
    val overall = stage(clipped,
      "overall_quality_score" -> clip100(
        coalesce(col("balance_sheet_quality_score"), lit(50.0)) * 0.33 +
        coalesce(col("cash_flow_quality_score"), lit(50.0)) * 0.33 +
        coalesce(col("income_statement_quality_score"), lit(50.0)) * 0.34))
    stage(overall,
      "is_high_quality" -> (col("overall_quality_score") >= 70.0),
      "is_investment_grade" ->
        (coalesce(col("balance_sheet_quality_score") >= 50.0, lit(false)) &&
          coalesce(col("cash_flow_quality_score") >= 50.0, lit(false)) &&
          coalesce(col("income_statement_quality_score") >= 50.0, lit(false))),
      "has_red_flags" ->
        (col("fbs_liquidity_shock_flag") === 1 || col("fcf_cash_burn_flag") === 1 ||
          col("fis_negative_net_income_flag") === 1))
  }
}
