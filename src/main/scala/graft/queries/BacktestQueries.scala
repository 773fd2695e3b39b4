package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.backtest.{Enrich, Metrics, Simulator}
import graft.etl.SymbolUniverse
import OracleSql.rd

/** Backtest queries: the stateful trade simulation + metrics register
  * rows-only (golden-tested on a hand-computed fixture in BacktestSpec);
  * the enrichment joins carry full mirrored oracles composed from the
  * quality-score prelude. */
object BacktestQueries {

  /** Signals (all 11 strategies, short-ladder config for 30-bar testdata
    * histories) joined with signal-day closes. */
  private def signalsWithClose(s: org.apache.spark.sql.SparkSession, d: String) = {
    val features = SignalQueries.signalFeatures(s, d) // memoized/persisted
    SignalQueries.allSignals(s, d)
      .join(features.select(col("symbol_id"), col("date"), col("close")), Seq("symbol_id", "date"))
  }

  private def trades(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "trades", d))(
      Simulator.simulate(signalsWithClose(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Simulated-trade frame shared with the model-scored queries (MlQueries). */
  def simulatedTrades(s: org.apache.spark.sql.SparkSession, d: String) = trades(s, d)

  /** DuckDB mirror of the full simulation: all 11 strategies' signal flags
    * (SignalQueries.allFlagsSubquery) joined to signal-day closes, then a
    * recursive CTE stepping the reference's exact trade state machine per
    * (strategy, symbol) — open on buy outside cooldown, close on sell, force
    * close at the strategy's last date when the symbol has a row there. */
  private[queries] val simCte: String =
    s"""${SignalQueries.featCte},
       |sigall AS MATERIALIZED (
       |  ${SignalQueries.allFlagsSubquery}
       |),
       |swc AS (
       |  SELECT g.trade_strategy, g.symbol_id, g.date, g.buy_signal, g.sell_signal, b2.close
       |  FROM sigall g JOIN b b2 ON g.symbol_id = b2.symbol_id AND g.date = b2.date
       |),
       |sw AS MATERIALIZED (
       |  SELECT swc.*,
       |         row_number() OVER (PARTITION BY trade_strategy, symbol_id ORDER BY date) AS srn,
       |         MAX(date) OVER (PARTITION BY trade_strategy) AS strategy_last_date
       |  FROM swc
       |),
       |sim AS (
       |  SELECT trade_strategy, symbol_id, date, srn, strategy_last_date, close,
       |    CASE WHEN buy_signal AND CAST(floor((100000.0 * 0.1) / close) AS BIGINT) > 0 THEN TRUE ELSE FALSE END AS has_pos,
       |    CASE WHEN buy_signal AND CAST(floor((100000.0 * 0.1) / close) AS BIGINT) > 0 THEN date END AS entry_date,
       |    CASE WHEN buy_signal AND CAST(floor((100000.0 * 0.1) / close) AS BIGINT) > 0 THEN close END AS entry_price,
       |    CASE WHEN buy_signal AND CAST(floor((100000.0 * 0.1) / close) AS BIGINT) > 0 THEN CAST(floor((100000.0 * 0.1) / close) AS BIGINT) END AS shares,
       |    CAST(NULL AS DATE) AS cooldown_exit,
       |    CAST(NULL AS DATE) AS t_entry_date,
       |    CAST(NULL AS DOUBLE) AS t_entry_price,
       |    CAST(NULL AS BIGINT) AS t_shares
       |  FROM sw WHERE srn = 1
       |  UNION ALL
       |  SELECT w.trade_strategy, w.symbol_id, w.date, w.srn, w.strategy_last_date, w.close,
       |    CASE WHEN w.buy_signal AND NOT p.has_pos
       |              AND (p.cooldown_exit IS NULL OR w.date - p.cooldown_exit >= 60)
       |              AND CAST(floor((100000.0 * 0.1) / w.close) AS BIGINT) > 0 THEN TRUE
       |         WHEN w.sell_signal AND p.has_pos THEN FALSE
       |         ELSE p.has_pos END AS has_pos,
       |    CASE WHEN w.buy_signal AND NOT p.has_pos
       |              AND (p.cooldown_exit IS NULL OR w.date - p.cooldown_exit >= 60)
       |              AND CAST(floor((100000.0 * 0.1) / w.close) AS BIGINT) > 0 THEN w.date
       |         WHEN w.sell_signal AND p.has_pos THEN CAST(NULL AS DATE)
       |         ELSE p.entry_date END AS entry_date,
       |    CASE WHEN w.buy_signal AND NOT p.has_pos
       |              AND (p.cooldown_exit IS NULL OR w.date - p.cooldown_exit >= 60)
       |              AND CAST(floor((100000.0 * 0.1) / w.close) AS BIGINT) > 0 THEN w.close
       |         WHEN w.sell_signal AND p.has_pos THEN CAST(NULL AS DOUBLE)
       |         ELSE p.entry_price END AS entry_price,
       |    CASE WHEN w.buy_signal AND NOT p.has_pos
       |              AND (p.cooldown_exit IS NULL OR w.date - p.cooldown_exit >= 60)
       |              AND CAST(floor((100000.0 * 0.1) / w.close) AS BIGINT) > 0
       |         THEN CAST(floor((100000.0 * 0.1) / w.close) AS BIGINT)
       |         WHEN w.sell_signal AND p.has_pos THEN CAST(NULL AS BIGINT)
       |         ELSE p.shares END AS shares,
       |    CASE WHEN w.sell_signal AND p.has_pos THEN w.date ELSE p.cooldown_exit END AS cooldown_exit,
       |    CASE WHEN w.sell_signal AND p.has_pos THEN p.entry_date END AS t_entry_date,
       |    CASE WHEN w.sell_signal AND p.has_pos THEN p.entry_price END AS t_entry_price,
       |    CASE WHEN w.sell_signal AND p.has_pos THEN p.shares END AS t_shares
       |  FROM sim p JOIN sw w
       |    ON w.trade_strategy = p.trade_strategy AND w.symbol_id = p.symbol_id AND w.srn = p.srn + 1
       |),
       |trades_sell AS (
       |  SELECT trade_strategy, symbol_id, t_entry_date AS entry_date, date AS exit_date,
       |         t_entry_price AS entry_price, close AS exit_price, t_shares AS shares
       |  FROM sim WHERE t_entry_date IS NOT NULL
       |),
       |last_rows AS (
       |  SELECT * FROM (
       |    SELECT sim.*, row_number() OVER (PARTITION BY trade_strategy, symbol_id ORDER BY srn DESC) AS rr
       |    FROM sim) WHERE rr = 1
       |),
       |trades_forced AS (
       |  SELECT trade_strategy, symbol_id, entry_date, date AS exit_date,
       |         entry_price, close AS exit_price, shares
       |  FROM last_rows WHERE has_pos AND date = strategy_last_date
       |),
       |trades_u AS (SELECT * FROM trades_sell UNION ALL SELECT * FROM trades_forced),
       |trades_v AS (
       |  SELECT trades_u.*,
       |         CAST(exit_date - entry_date AS INTEGER) AS holding_days,
       |         shares * entry_price AS entry_value,
       |         shares * exit_price AS exit_value,
       |         shares * entry_price * 0.001 + shares * exit_price * 0.001 AS commission
       |  FROM trades_u
       |),
       |trades_f AS (
       |  SELECT trades_v.*,
       |         exit_value - entry_value - commission AS pnl
       |  FROM trades_v
       |),
       |trades_all AS (
       |  SELECT trades_f.*, pnl / entry_value * 100.0 AS pnl_pct
       |  FROM trades_f
       |)""".stripMargin

  private val backtestTrades = Q(
    (s, d) => trades(s, d).orderBy("trade_strategy", "symbol_id", "entry_date"),
    s"""$simCte
       |SELECT trade_strategy, symbol_id, entry_date, exit_date, holding_days,
       |       entry_price, exit_price, shares, pnl, pnl_pct, commission,
       |       entry_value, exit_value
       |FROM trades_all
       |ORDER BY trade_strategy, symbol_id, entry_date""".stripMargin)

  /** Metrics.perStrategy with the oracle's 4dp canonicalization applied to
    * every derived double (counts stay integral) — shared by
    * backtest_metrics and the model-filtered rollup (MlQueries). Spark's
    * round(double) HALF_UPs the shortest decimal repr; [[metricsSelect]]
    * rounds through the same decimal path. */
  private[queries] def perStrategyRounded(tradeFrame: org.apache.spark.sql.DataFrame) = {
    import graft.sqlx.Exact.r4
    val m = Metrics.perStrategy(tradeFrame)
    m.select(col("trade_strategy") +: m.columns.toIndexedSeq.filterNot(_ == "trade_strategy").map {
      case c @ ("total_trades" | "winning_trades" | "losing_trades") => col(c)
      case c => r4(col(c)).as(c)
    }: _*)
  }

  private val backtestMetrics = Q(
    (s, d) => perStrategyRounded(trades(s, d)).orderBy("trade_strategy"),
    s"""$simCte,
       |${metricsCtes("trades_all")}
       |${metricsSelect("dd")}
       |ORDER BY trade_strategy""".stripMargin)

  /** SQL mirror of [[Metrics.perStrategy]]'s cumulative-capital drawdown
    * scan over an arbitrary trades CTE — emits `${p}cumed`/`${p}capi`/
    * `${p}dd`; pair with [[metricsSelect]] for the per-strategy rollup.
    * Shared by backtest_metrics and the model-filtered twin (which runs it
    * over the probability-filtered trade set). */
  private[queries] def metricsCtes(src: String, p: String = ""): String =
    s"""${p}cumed AS (
       |  SELECT $src.*,
       |    CAST(CAST(SUM(CAST(pnl AS DECIMAL(25,10))) OVER (PARTITION BY trade_strategy ORDER BY exit_date, symbol_id, entry_date) AS VARCHAR) AS DOUBLE) AS cum_pnl
       |  FROM $src
       |),
       |${p}capi AS (
       |  SELECT ${p}cumed.*, 100000.0 + cum_pnl AS cum_capital FROM ${p}cumed
       |),
       |${p}dd AS (
       |  SELECT ${p}capi.*,
       |    (cum_capital - MAX(cum_capital) OVER (PARTITION BY trade_strategy ORDER BY exit_date, symbol_id, entry_date))
       |      / MAX(cum_capital) OVER (PARTITION BY trade_strategy ORDER BY exit_date, symbol_id, entry_date) AS drawdown
       |  FROM ${p}capi
       |)""".stripMargin

  /** The per-strategy metrics rollup (no ORDER BY) over a [[metricsCtes]]
    * drawdown CTE — byte-for-byte the arithmetic Metrics.perStrategy runs,
    * decimal-exact sums included. Every derived double is rounded through
    * [[OracleSql.rnd]] (shortest repr → DECIMAL → ROUND), the decimal path
    * of Spark's round(double) in [[perStrategyRounded]]: DuckDB's ROUND on
    * the binary double disagrees with it on exact .xxxx5 ties (an average
    * of −287.77455 rounded to −287.7745 against Spark's −287.7746). Pure
    * decimal sums round in DECIMAL space on both sides. */
  private[queries] def metricsSelect(ddSrc: String): String = {
    import OracleSql.rnd
    val n = "CAST(COUNT(*) AS DOUBLE)"
    def decSum(x: String) = s"CAST(CAST(SUM(CAST($x AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)"
    def decRound4(x: String) = s"CAST(ROUND(SUM(CAST($x AS DECIMAL(25,10))), 4) AS DOUBLE)"
    val wins = "SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END)"
    val (s1, s2) = (decSum("pnl_pct"), decSum("pnl_pct * pnl_pct"))
    val variance = s"($s2 - $s1 * $s1 / $n) / $n"
    val std = s"SQRT(CASE WHEN $variance > 0.0 THEN $variance ELSE 0.0 END)"
    val total = decRound4("pnl")
    val grossProfit = decRound4("CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END")
    val grossLoss = s"abs(${decRound4("CASE WHEN pnl < 0 THEN pnl ELSE 0.0 END")})"
    s"""SELECT trade_strategy,
       |  COUNT(*) AS total_trades,
       |  CAST($wins AS BIGINT) AS winning_trades,
       |  CAST(SUM(CASE WHEN pnl <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS losing_trades,
       |  ${rnd(s"$wins / $n * 100.0", 4)} AS win_rate,
       |  CAST(ROUND(SUM(CAST(pnl AS DECIMAL(25,10))), 4) + 0.0 AS DOUBLE) AS total_return,
       |  ${rnd(s"$total / 100000.0 * 100.0", 4)} AS total_return_pct,
       |  ${rnd(s"$total / $n", 4)} AS avg_trade_return,
       |  ${rnd(s"$s1 / $n", 4)} AS avg_trade_return_pct,
       |  ${rnd("MIN(drawdown) * 100.0", 4)} AS max_drawdown,
       |  ${rnd(s"CASE WHEN COUNT(*) > 1 AND $std <> 0.0 THEN ($s1 / $n) / $std * SQRT(252.0) ELSE 0.0 END", 4)} AS sharpe_ratio,
       |  ${rnd(s"CASE WHEN $grossLoss <> 0.0 THEN $grossProfit / $grossLoss ELSE 0.0 END", 4)} AS profit_factor,
       |  ${rnd(s"CAST(SUM(holding_days) AS DOUBLE) / $n", 4)} AS avg_holding_days,
       |  CAST(ROUND(SUM(CAST(commission AS DECIMAL(25,10))), 4) + 0.0 AS DOUBLE) AS total_commission,
       |  CAST(ROUND(SUM(CAST(CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END AS DECIMAL(25,10))), 4) + 0.0 AS DOUBLE) AS gross_profit,
       |  CAST(abs(ROUND(SUM(CAST(CASE WHEN pnl < 0 THEN pnl ELSE 0.0 END AS DECIMAL(25,10))), 4)) AS DOUBLE) AS gross_loss
       |FROM $ddSrc GROUP BY trade_strategy""".stripMargin
  }

  // ---------------------------------------------------------------- enrichment
  private val tradesCte: String =
    """trades AS (
      |  SELECT o_custkey AS symbol_id, CAST(o_orderdate AS DATE) AS entry_date,
      |         CAST(MAX(o_orderkey) % 100 AS DOUBLE) AS signal_strength,
      |         'orders_flow' AS trade_strategy
      |  FROM orders GROUP BY 1, 2
      |)""".stripMargin

  private val scoresJoinCte: String =
    s"""f AS (
       |  SELECT symbol_id AS f_symbol_id, fiscal_q,
       |         fiscal_q + ${Enrich.PublicationLagDays} AS publication_date,
       |         (fiscal_q + ${Enrich.PublicationLagDays}) + ${Enrich.LookforwardDays} AS valid_until_date,
       |         CAST(ROUND(CAST(CAST(overall_quality_score AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS overall_quality_score,
       |         CAST(ROUND(CAST(CAST(balance_sheet_quality_score AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS balance_sheet_quality_score,
       |         CAST(ROUND(CAST(CAST(cash_flow_quality_score AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS cash_flow_quality_score,
       |         CAST(ROUND(CAST(CAST(income_statement_quality_score AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS income_statement_quality_score,
       |         is_high_quality, is_investment_grade, has_red_flags
       |  FROM scores
       |),
       |j AS (
       |  SELECT t.symbol_id, t.entry_date, t.trade_strategy, t.signal_strength,
       |         f.fiscal_q, f.publication_date, f.valid_until_date,
       |         f.overall_quality_score, f.balance_sheet_quality_score,
       |         f.cash_flow_quality_score, f.income_statement_quality_score,
       |         f.is_high_quality, f.is_investment_grade, f.has_red_flags,
       |         row_number() OVER (PARTITION BY t.symbol_id, t.entry_date, t.trade_strategy
       |                            ORDER BY f.publication_date DESC NULLS LAST) AS rnk
       |  FROM trades t LEFT JOIN f
       |    ON t.symbol_id = f.f_symbol_id
       |   AND f.publication_date <= t.entry_date
       |   AND t.entry_date < f.valid_until_date
       |),
       |enriched AS (SELECT * EXCLUDE (rnk) FROM j WHERE rnk = 1)""".stripMargin

  /** Memoized + persisted enriched-trades frame: five queries (as-of join,
    * filter, scorer, top-25 report, bot orders) share one build. */
  private def enrichedSpark(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "enriched", d))(
      Enrich.joinFundamentals(Enrich.tradeEntries(s, d), graft.fundamentals.QualityScores.scores(s, d))
        // localCheckpoint: five consumers plan against a scan instead of
        // re-walking the as-of-join + score lineage (round 17)
        .transform(graft.sqlx.Lineage.truncate))

  private val tradesFundamentalsJoin = Q(
    (s, d) => enrichedSpark(s, d)
      .select("symbol_id", "entry_date", "trade_strategy", "signal_strength",
        "fiscal_q", "publication_date", "valid_until_date",
        "overall_quality_score", "balance_sheet_quality_score",
        "cash_flow_quality_score", "income_statement_quality_score",
        "is_high_quality", "is_investment_grade", "has_red_flags")
      .orderBy("symbol_id", "entry_date", "trade_strategy"),
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte
       |SELECT * FROM enriched
       |ORDER BY symbol_id, entry_date, trade_strategy""".stripMargin)

  /** The reference's CSV handoff (filter_trades_by_prediction.py writes the
    * filtered trades CSV; visualize_signals.py:152-185 reads it back): the
    * enriched-trades frame written through [[graft.sources.CsvTables]] and
    * read back with its explicit schema. Checked against the SAME oracle as
    * [[tradesFundamentalsJoin]] — a hash-exact roundtrip across the text
    * format (shortest-round-trip doubles, ISO dates, typed booleans). */
  private val tradesCsvRoundtrip = Q(
    (s, d) => {
      val src = tradesFundamentalsJoin.run(s, d)
      val path = s"${sys.props("java.io.tmpdir")}/graft-trades-csv-${graft.sqlx.PathTag.of(d)}"
      graft.sources.CsvTables.write(src, path)
      graft.sources.CsvTables.read(s, path, src.schema)
        .orderBy("symbol_id", "entry_date", "trade_strategy")
    },
    tradesFundamentalsJoin.oracle.get)

  /** The SAME as-of semantics as [[tradesFundamentalsJoin]] through the
    * zero-join union+window operator ([[graft.operators.AsOfJoin]]) — the
    * both-sides-large scale path — checked against the identical oracle:
    * two independent physical strategies, one bit-exact answer. */
  private val asofJoinUnion = Q(
    (s, d) => {
      val f = graft.fundamentals.QualityScores.scores(s, d).select(
        col("symbol_id"), col("fiscal_q"),
        date_add(col("fiscal_q"), Enrich.PublicationLagDays).as("publication_date"),
        date_add(date_add(col("fiscal_q"), Enrich.PublicationLagDays),
          Enrich.LookforwardDays).as("valid_until_date"),
        round(col("overall_quality_score"), 4).as("overall_quality_score"),
        round(col("balance_sheet_quality_score"), 4).as("balance_sheet_quality_score"),
        round(col("cash_flow_quality_score"), 4).as("cash_flow_quality_score"),
        round(col("income_statement_quality_score"), 4).as("income_statement_quality_score"),
        col("is_high_quality"), col("is_investment_grade"), col("has_red_flags"))
      graft.operators.AsOfJoin.backward(
          Enrich.tradeEntries(s, d), f, keys = Seq("symbol_id"),
          leftTime = "entry_date", rightTime = "publication_date",
          payload = Seq("fiscal_q", "publication_date", "valid_until_date",
            "overall_quality_score", "balance_sheet_quality_score",
            "cash_flow_quality_score", "income_statement_quality_score",
            "is_high_quality", "is_investment_grade", "has_red_flags"),
          toleranceDays = Some(Enrich.LookforwardDays))
        .select("symbol_id", "entry_date", "trade_strategy", "signal_strength",
          "fiscal_q", "publication_date", "valid_until_date",
          "overall_quality_score", "balance_sheet_quality_score",
          "cash_flow_quality_score", "income_statement_quality_score",
          "is_high_quality", "is_investment_grade", "has_red_flags")
        .orderBy("symbol_id", "entry_date", "trade_strategy")
    },
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte
       |SELECT * FROM enriched
       |ORDER BY symbol_id, entry_date, trade_strategy""".stripMargin)

  /** Trailing half-year activity windows via the binned interval join
    * ([[graft.operators.IntervalJoin]]): quarter-start sliding windows of 6
    * months, each trade entry covered by two overlapping windows — a
    * genuine non-equi range join that Spark would otherwise plan as a
    * nested loop. The oracle states the raw range predicate directly. */
  private val rangeJoinWindows = Q(
    (s, d) => {
      val wins = Tables.orders(s, d)
        .select(make_date(year(col("o_orderdate")),
          (quarter(col("o_orderdate")) - 1) * 3 + 1, lit(1)).as("win_start"))
        .distinct()
        .withColumn("win_end", add_months(col("win_start"), 6))
      graft.operators.IntervalJoin.pointInInterval(
          Enrich.tradeEntries(s, d), wins, "entry_date", "win_start", "win_end")
        .groupBy("win_start", "win_end")
        .agg(count(lit(1)).as("n_trades"),
          countDistinct(col("symbol_id")).as("n_symbols"),
          sum(graft.sqlx.Exact.dec(col("signal_strength"))).cast("double").as("sum_strength"))
        .orderBy("win_start")
    },
    s"""WITH $tradesCte,
       |w AS (
       |  SELECT win_start, CAST(win_start + INTERVAL 6 MONTH AS DATE) AS win_end
       |  FROM (SELECT DISTINCT make_date(CAST(year(o_orderdate) AS INT),
       |                  (CAST(quarter(o_orderdate) AS INT) - 1) * 3 + 1, 1) AS win_start
       |        FROM orders)
       |)
       |SELECT w.win_start, w.win_end,
       |  COUNT(*) AS n_trades,
       |  CAST(COUNT(DISTINCT t.symbol_id) AS BIGINT) AS n_symbols,
       |  CAST(CAST(SUM(CAST(t.signal_strength AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS sum_strength
       |FROM trades t JOIN w
       |  ON t.entry_date >= w.win_start AND t.entry_date < w.win_end
       |GROUP BY w.win_start, w.win_end
       |ORDER BY w.win_start""".stripMargin)

  private val tradesFilterThreshold = Q(
    (s, d) => Enrich.filterByPrediction(enrichedSpark(s, d)).orderBy("trade_strategy"),
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte,
       |p AS (
       |  SELECT *, CAST(ROUND(CAST(CAST(1.0 / (1.0 + exp(-(signal_strength - 50.0) / 20.0)) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) + 0.0 AS success_probability
       |  FROM enriched
       |)
       |SELECT trade_strategy,
       |  COUNT(*) AS n_trades,
       |  CAST(CAST(SUM(CAST(signal_strength AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS sum_strength,
       |  CAST(SUM(CASE WHEN is_high_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
       |  CAST(SUM(CASE WHEN overall_quality_score IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_fundamentals
       |FROM p WHERE success_probability >= 0.6
       |GROUP BY trade_strategy ORDER BY trade_strategy""".stripMargin)

  /** Universe upsert CTE (SymbolUniverse mirror) — shared with the daily
    * recommendation oracle (RecommendQueries). */
  private[queries] val universeCte: String =
    """ubase AS (
      |  SELECT c_custkey AS symbol_id, c_name AS symbol, c_mktsegment AS segment,
      |         c_acctbal AS acctbal, 1 AS version
      |  FROM customer
      |),
      |uinc AS (
      |  SELECT symbol_id, symbol, segment, acctbal + 100.0 AS acctbal, 2 AS version
      |  FROM ubase WHERE symbol_id % 3 = 0
      |),
      |uu AS (SELECT * FROM ubase UNION ALL SELECT * FROM uinc),
      |ur AS (SELECT *, row_number() OVER (PARTITION BY symbol_id ORDER BY version DESC) AS rnk FROM uu),
      |universe AS (SELECT symbol_id, symbol, segment FROM ur WHERE rnk = 1)""".stripMargin

  /** Universe upsert + composite scoring shared by the scorer/bot oracles. */
  private val scoredCte: String =
    s"""$universeCte,
      |scored AS (
      |  SELECT e.*, u.symbol,
      |         e.signal_strength * 0.5 + COALESCE(e.overall_quality_score, 50.0) * 0.5 AS composite_score
      |  FROM enriched e LEFT JOIN universe u ON e.symbol_id = u.symbol_id
      |)""".stripMargin

  private val signalScorer = Q(
    (s, d) => Enrich.dailyScores(enrichedSpark(s, d), SymbolUniverse.universe(s, d))
      .select("symbol_id", "symbol", "entry_date", "trade_strategy", "signal_strength",
        "overall_quality_score", "composite_score", "day_rank")
      .orderBy("entry_date", "day_rank"),
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte,
       |$scoredCte
       |SELECT symbol_id, symbol, entry_date, trade_strategy, signal_strength,
       |       overall_quality_score, composite_score,
       |       CAST(row_number() OVER (PARTITION BY entry_date
       |            ORDER BY composite_score DESC, symbol_id) AS INTEGER) AS day_rank
       |FROM scored
       |ORDER BY entry_date, day_rank""".stripMargin)

  /** Trading-bot order selection (automated_trading_bot.py:181-310 minus the
    * external order API): latest-day scored signals × account constraints —
    * skip held symbols, reject stale price drift (−3%..+5%), size positions
    * at 5% of portfolio, respect buying power, rank top max_positions.
    * Live account state is deterministic stand-ins on the testdata
    * (price = strength+10, drift/held from symbol_id) so the whole decision
    * pipeline is oracle-checkable. */
  private val botOrderCandidates = Q(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("latest_date")
        .orderBy(col("composite_score").desc, col("symbol_id"), col("entry_date"))
      val scored = Enrich.dailyScores(enrichedSpark(s, d), SymbolUniverse.universe(s, d))
      val latest = scored.agg(max(col("entry_date")).as("latest_date"))
      // "Signal too old (> 8 days)" — the bot's staleness gate (ref :190-192)
      scored.join(broadcast(latest),
          col("entry_date") >= date_sub(col("latest_date"), 8) &&
          col("entry_date") <= col("latest_date"))
        .withColumn("price", col("signal_strength") + 10.0)
        .withColumn("drift", ((col("symbol_id") % 21) - 10).cast("double") / 200.0)
        .withColumn("shares", greatest(lit(1L), floor(lit(5000.0) / col("price"))))
        .withColumn("position_value", col("shares").cast("double") * col("price"))
        .where(col("symbol_id") % 13 =!= 0 &&
          col("drift") <= 0.05 && col("drift") >= -0.03 &&
          col("position_value") <= 25000.0)
        .withColumn("order_rank", row_number().over(w))
        .where(col("order_rank") <= 10)
        .select("symbol_id", "symbol", "entry_date", "trade_strategy",
          "composite_score", "price", "shares", "position_value", "order_rank")
        .orderBy("order_rank")
    },
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte,
       |$scoredCte,
       |latest AS (SELECT MAX(entry_date) AS latest_date FROM scored),
       |cand AS (
       |  SELECT s.*, l.latest_date,
       |         CAST(s.signal_strength + 10.0 AS DOUBLE) AS price,
       |         CAST((s.symbol_id % 21) - 10 AS DOUBLE) / 200.0 AS drift
       |  FROM scored s JOIN latest l
       |    ON s.entry_date >= l.latest_date - 8 AND s.entry_date <= l.latest_date
       |),
       |c2 AS (
       |  SELECT cand.*,
       |         GREATEST(CAST(1 AS BIGINT), CAST(FLOOR(5000.0 / price) AS BIGINT)) AS shares
       |  FROM cand
       |),
       |c3 AS (
       |  SELECT c2.*, CAST(shares AS DOUBLE) * price AS position_value
       |  FROM c2
       |  WHERE symbol_id % 13 <> 0 AND drift <= 0.05 AND drift >= -0.03
       |),
       |c4 AS (
       |  SELECT c3.*, row_number() OVER (PARTITION BY latest_date
       |           ORDER BY composite_score DESC, symbol_id, entry_date) AS order_rank
       |  FROM c3 WHERE position_value <= 25000.0
       |)
       |SELECT symbol_id, symbol, entry_date, trade_strategy, composite_score,
       |       price, shares, position_value, CAST(order_rank AS INTEGER) AS order_rank
       |FROM c4 WHERE order_rank <= 10
       |ORDER BY order_rank""".stripMargin)

  /** Top-25 recommendation report (create_top25_viz_input.py:14-44): rank
    * enriched trades by success probability, take the top 25 (Spark plans a
    * TakeOrderedAndProject — distributed top-k, no global sort shuffle),
    * join names/sector from the universe, signal_strength = p·100. */
  private val topSignalsReport = Q(
    (s, d) => {
      import graft.sqlx.Exact.r4
      val p = enrichedSpark(s, d)
        .withColumn("success_probability", Enrich.successProbability(col("signal_strength")))
      val top = p.orderBy(col("success_probability").desc,
          col("symbol_id"), col("entry_date"), col("trade_strategy")).limit(25)
      val names = Tables.customer(s, d).select(
        col("c_custkey").as("symbol_id"), col("c_name").as("name"),
        col("c_mktsegment").as("sector"))
      top.join(broadcast(names), Seq("symbol_id"), "left")
        .select(col("symbol_id"), col("entry_date"), col("name"), col("trade_strategy"),
          col("success_probability"),
          r4(col("success_probability") * 100.0).as("signal_strength"),
          col("overall_quality_score"), col("sector"))
        .orderBy(col("success_probability").desc,
          col("symbol_id"), col("entry_date"), col("trade_strategy"))
    },
    s"""${FundamentalQueries.scoresPrelude},
       |$tradesCte,
       |$scoresJoinCte,
       |p AS (
       |  SELECT *, CAST(ROUND(CAST(CAST(1.0 / (1.0 + exp(-(signal_strength - 50.0) / 20.0)) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) + 0.0 AS success_probability
       |  FROM enriched
       |),
       |top AS (
       |  SELECT * FROM p
       |  ORDER BY success_probability DESC, symbol_id, entry_date, trade_strategy
       |  LIMIT 25
       |)
       |SELECT t.symbol_id, t.entry_date, c.c_name AS name, t.trade_strategy,
       |       t.success_probability,
       |       ${rd("t.success_probability * 100.0", "signal_strength")},
       |       t.overall_quality_score, c.c_mktsegment AS sector
       |FROM top t LEFT JOIN customer c ON c.c_custkey = t.symbol_id
       |ORDER BY t.success_probability DESC, t.symbol_id, t.entry_date, t.trade_strategy""".stripMargin)

  val all: Map[String, Q] = Map(
    "backtest_trades" -> backtestTrades,
    "backtest_metrics" -> backtestMetrics,
    "trades_fundamentals_join" -> tradesFundamentalsJoin,
    "trades_csv_roundtrip" -> tradesCsvRoundtrip,
    "asof_join_union" -> asofJoinUnion,
    "range_join_windows" -> rangeJoinWindows,
    "trades_filter_threshold" -> tradesFilterThreshold,
    "signal_scorer" -> signalScorer,
    "top_signals_report" -> topSignalsReport,
    "bot_order_candidates" -> botOrderCandidates)
}
