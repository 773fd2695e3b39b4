package graft.queries

import org.apache.spark.sql.functions._
import graft.features.SeriesFeatures
import graft.fundamentals.Insider
import graft.relational.Summary
import graft.text.{SentimentAgg, TextAnalysis}

/** Insider / sentiment / series / EDA / summary queries with mirrored DuckDB
  * oracles. All outputs are raw doubles — every arithmetic DAG is mirrored
  * op-for-op, so values are bit-identical without rounding. */
object AggregateQueries {

  private def decAggSql(expr: String): String =
    s"CAST(CAST(SUM(CAST($expr AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE)"

  // ---------------------------------------------------------------- insider
  private val txnCte: String =
    """txn AS (
      |  SELECT l_suppkey AS symbol_id,
      |         CAST(l_shipdate AS DATE) AS transaction_date,
      |         l_orderkey, l_linenumber,
      |         CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'A' END AS transaction_type,
      |         CAST(l_linenumber % 4 AS INTEGER) AS tier,
      |         (l_partkey % 10 = 0) AS is_owner_10pct,
      |         CAST(l_quantity AS BIGINT) AS shares,
      |         l_extendedprice / l_quantity AS price_per_share,
      |         CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) * (l_extendedprice / l_quantity) AS transaction_value
      |  FROM lineitem
      |)""".stripMargin

  private val insiderTxn = Q(
    (s, d) => Insider.transactions(s, d)
      .orderBy("symbol_id", "transaction_date", "l_orderkey", "l_linenumber"),
    s"""WITH $txnCte
       |SELECT * FROM txn
       |ORDER BY symbol_id, transaction_date, l_orderkey, l_linenumber""".stripMargin)

  private val insiderAgg = Q(
    (s, d) => Insider.aggregated(s, d).orderBy("symbol_id", "transaction_date"),
    {
      def sharesSum(cond: String, name: String) =
        s"CAST(SUM(CASE WHEN $cond THEN shares ELSE 0 END) AS BIGINT) AS $name"
      def valueSum(cond: String, name: String) =
        s"CAST(CAST(SUM(CASE WHEN $cond THEN CAST(transaction_value AS DECIMAL(25,10)) ELSE CAST(0.0 AS DECIMAL(25,10)) END) AS VARCHAR) AS DOUBLE) AS $name"
      def cnt(cond: String, name: String) =
        s"CAST(SUM(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS $name"
      val cols = Seq("d", "a").flatMap { tl =>
        val ty = s"transaction_type = '${tl.toUpperCase}'"
        Seq(sharesSum(ty, s"total_shares_$tl")) ++
          Insider.Tiers.map(k => sharesSum(s"$ty AND tier = $k", s"total_shares_${tl}_tier_$k")) ++
          Seq(sharesSum(s"$ty AND is_owner_10pct", s"total_shares_${tl}_10pct_owner"),
            valueSum(ty, s"total_value_$tl")) ++
          Insider.Tiers.map(k => valueSum(s"$ty AND tier = $k", s"total_value_${tl}_tier_$k")) ++
          Seq(valueSum(s"$ty AND is_owner_10pct", s"total_value_${tl}_10pct_owner"))
      } ++ Seq("d", "a").flatMap { tl =>
        val ty = s"transaction_type = '${tl.toUpperCase}'"
        Seq(
          s"CASE WHEN SUM(CASE WHEN $ty THEN 1 ELSE 0 END) > 0 THEN ${decAggSql(s"CASE WHEN $ty THEN price_per_share END")} / SUM(CASE WHEN $ty THEN 1 ELSE 0 END) END AS avg_price_$tl",
          cnt(ty, s"transaction_count_$tl"),
          cnt(s"$ty AND is_owner_10pct", s"transaction_count_${tl}_10pct"))
      }
      s"""WITH $txnCte
         |SELECT symbol_id, transaction_date,
         |  ${cols.mkString(",\n  ")}
         |FROM txn GROUP BY symbol_id, transaction_date
         |ORDER BY symbol_id, transaction_date""".stripMargin
    })

  // ---------------------------------------------------------------- sentiment
  private val stmtsCte: String = {
    val titleCase = SentimentAgg.Titles.zipWithIndex
      .map { case (t, i) => s"WHEN $i THEN '$t'" }.mkString(" ")
    """stmts AS (
      |  SELECT source AS symbol, lang AS quarter,
      |         CASE CAST(doc_id % 7 AS INTEGER) TITLECASE ELSE NULL END AS title,
      |         (n_chars % 201 - 100) / 100.0 AS sentiment
      |  FROM documents
      |),
      |classified AS (
      |  SELECT *,
      |    CASE
      |      WHEN UPPER(title) LIKE '%CEO%' OR UPPER(title) LIKE '%CHIEF EXECUTIVE%' OR UPPER(title) LIKE '%CHAIRMAN%' OR UPPER(title) LIKE '%CHAIR%' OR UPPER(title) LIKE '%PRESIDENT%' THEN 'csuite'
      |      WHEN UPPER(title) LIKE '%CFO%' OR UPPER(title) LIKE '%CHIEF FINANCIAL%' THEN 'cfo'
      |      WHEN UPPER(title) LIKE '%COO%' OR UPPER(title) LIKE '%CTO%' OR UPPER(title) LIKE '%CIO%' OR UPPER(title) LIKE '%CMO%' OR UPPER(title) LIKE '%CHIEF%' OR UPPER(title) LIKE '%EVP%' OR UPPER(title) LIKE '%SVP%' OR UPPER(title) LIKE '%EXECUTIVE VICE PRESIDENT%' OR UPPER(title) LIKE '%SENIOR VICE PRESIDENT%' THEN 'senior_exec'
      |      WHEN UPPER(title) LIKE '%VICE PRESIDENT%' OR UPPER(title) LIKE '%VP %' OR UPPER(title) LIKE '%DIRECTOR%' OR UPPER(title) LIKE '%GENERAL COUNSEL%' OR UPPER(title) LIKE '%SECRETARY%' OR UPPER(title) LIKE '%TREASURER%' OR UPPER(title) LIKE '%CONTROLLER%' THEN 'vp_director'
      |      WHEN UPPER(title) LIKE '%ANALYST%' OR UPPER(title) LIKE '%INVESTOR RELATIONS%' OR UPPER(title) LIKE '%MANAGER%' THEN 'analyst_ir'
      |      WHEN UPPER(title) LIKE '%MODERATOR%' OR UPPER(title) LIKE '%OPERATOR%' OR UPPER(title) LIKE '%CONFERENCE%' THEN 'external'
      |      ELSE 'other' END AS role
      |  FROM stmts
      |)""".stripMargin.replace("TITLECASE", titleCase)
  }

  private val sentimentAgg = Q(
    (s, d) => SentimentAgg.aggregated(s, d).orderBy("symbol", "quarter"),
    {
      def avgFor(cond: String, name: String) =
        s"CASE WHEN SUM(CASE WHEN $cond THEN 1 ELSE 0 END) > 0 THEN ${decAggSql(s"CASE WHEN $cond THEN sentiment END")} / SUM(CASE WHEN $cond THEN 1 ELSE 0 END) END AS $name"
      val mgmt = "role IN ('csuite', 'cfo', 'senior_exec')"
      s"""WITH $stmtsCte
         |SELECT symbol, quarter,
         |  ${avgFor("role = 'csuite'", "sentiment_csuite")},
         |  ${avgFor("role = 'cfo'", "sentiment_cfo")},
         |  ${avgFor("role = 'senior_exec'", "sentiment_senior_exec")},
         |  ${avgFor("role = 'vp_director'", "sentiment_vp_director")},
         |  ${avgFor("role = 'analyst_ir'", "sentiment_analyst_ir")},
         |  ${avgFor(mgmt, "sentiment_management_all")},
         |  ${avgFor("role <> 'external'", "sentiment_overall")},
         |  COUNT(*) AS n_statements,
         |  CAST(SUM(CASE WHEN $mgmt THEN 1 ELSE 0 END) AS BIGINT) AS n_management
         |FROM classified GROUP BY symbol, quarter
         |ORDER BY symbol, quarter""".stripMargin
    })

  // ---------------------------------------------------------------- eda + summary
  private val textEda = Q(
    (s, d) => TextAnalysis.eda(s, d).orderBy("source"),
    """WITH g AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |         COUNT(DISTINCT lang) AS n_langs
      |  FROM documents GROUP BY source
      |)
      |SELECT source, n_docs, avg_chars, n_langs,
      |       CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS pct_of_total
      |FROM g ORDER BY source""".stripMargin)

  private val dbSummary = Q(
    (s, d) => Summary.dbSummary(s, d),
    s"""SELECT * FROM (
       |  SELECT 'customer' AS table_name, COUNT(*) AS row_count, ${decAggSql("c_acctbal")} AS value_sum FROM customer
       |  UNION ALL SELECT 'orders', COUNT(*), ${decAggSql("o_totalprice")} FROM orders
       |  UNION ALL SELECT 'lineitem', COUNT(*), ${decAggSql("l_extendedprice")} FROM lineitem
       |  UNION ALL SELECT 'supplier', COUNT(*), ${decAggSql("s_acctbal")} FROM supplier
       |  UNION ALL SELECT 'part', COUNT(*), ${decAggSql("p_retailprice")} FROM part
       |  UNION ALL SELECT 'nation', COUNT(*), CAST(SUM(n_regionkey) AS DOUBLE) FROM nation
       |  UNION ALL SELECT 'region', COUNT(*), CAST(SUM(r_regionkey) AS DOUBLE) FROM region
       |  UNION ALL SELECT 'events', COUNT(*), ${decAggSql("value")} FROM events
       |  UNION ALL SELECT 'documents', COUNT(*), CAST(SUM(n_chars) AS DOUBLE) FROM documents
       |  UNION ALL SELECT 'embeddings', COUNT(*), CAST(SUM(label) AS DOUBLE) FROM embeddings
       |) ORDER BY table_name""".stripMargin)

  // ---------------------------------------------------------------- series
  private def seriesOracle(types: Seq[String], p: String): String = {
    val bySeries = "PARTITION BY series ORDER BY date"
    def lsum(expr: String, w: Int) =
      s"CAST(CAST(SUM($expr) OVER ($bySeries ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)"
    def winCnt(expr: String, w: Int) =
      s"COUNT($expr) OVER ($bySeries ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW)"
    def nOf(w: Int) = s"CAST(LEAST(rn, $w) AS DOUBLE)"
    def zscore(w: Int): String = {
      val minP = math.max(2, w / 2); val n = nOf(w)
      val s1 = s"(${lsum("v6", w)} / 1000000.0)"
      val s2 = s"(${lsum("v6 * v6", w)} / 1.0e12)"
      val variance = s"($s2 - $s1 * $s1 / $n) / ($n - 1.0)"
      val std = s"SQRT(CASE WHEN $variance > 0.0 THEN $variance ELSE 0.0 END)"
      s"CASE WHEN rn >= $minP THEN (value - $s1 / $n) / ($std + 1e-08) END"
    }
    def maExpr(w: Int, minP: Int) =
      s"CASE WHEN rn >= $minP THEN (${lsum("v6", w)} / 1000000.0) / ${nOf(w)} END"
    def slope(w: Int): String = {
      val minP = math.max(2, w / 2); val nd = nOf(w)
      val sy = s"(${lsum("v6", w)} / 1000000.0)"
      val sxy0 = s"(${lsum("rn * v6", w)} / 1000000.0)"
      val start = s"CAST(rn - LEAST(rn, $w) + 1 AS DOUBLE)"
      val sxy = s"($sxy0 - $start * $sy)"
      val sx = s"(($nd - 1.0) * $nd / 2.0)"
      val sxx = s"(($nd - 1.0) * $nd * (2.0 * $nd - 1.0) / 6.0)"
      val denom = s"($nd * $sxx - $sx * $sx)"
      s"CASE WHEN rn >= $minP AND $denom <> 0.0 THEN ($nd * $sxy - $sx * $sy) / $denom END"
    }
    def vol(w: Int, minP: Int): String = {
      val n = s"CAST(${winCnt(s"${p}_return_1d", w)} AS DOUBLE)"
      val s1 = s"(${lsum("r6", w)} / 1000000.0)"
      val s2 = s"(${lsum("r6 * r6", w)} / 1.0e12)"
      val variance = s"($s2 - $s1 * $s1 / $n) / ($n - 1.0)"
      s"CASE WHEN $n >= $minP THEN SQRT(CASE WHEN $variance > 0.0 THEN $variance ELSE 0.0 END) END"
    }
    def dayRank(v: String): String = {
      val le = s"COUNT($v) OVER (PARTITION BY date ORDER BY $v)"
      val eq = s"COUNT($v) OVER (PARTITION BY date, $v)"
      val n = s"COUNT($v) OVER (PARTITION BY date)"
      s"CASE WHEN $v IS NOT NULL THEN ($le - $eq + ($eq + 1) / 2.0) / $n END"
    }
    def pcSql(k: Int) =
      s"CAST(ROUND(CAST(CAST(CASE WHEN lag(value, $k) OVER ($bySeries) <> 0 THEN (value - lag(value, $k) OVER ($bySeries)) / lag(value, $k) OVER ($bySeries) END AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) + 0.0"
    val inList = types.map(t => s"'$t'").mkString(", ")
    val n14 = nOf(14)
    val g6 = "CASE WHEN r6 > 0 THEN r6 ELSE 0 END"
    val l6 = "CASE WHEN r6 < 0 THEN -r6 ELSE 0 END"
    val rsi = s"100.0 - (100.0 / (1.0 + ((${lsum(g6, 14)} / 1000000.0) / $n14) / ((${lsum(l6, 14)} / 1000000.0) / $n14 + 1e-06)))"
    s"""WITH s AS (
       |  SELECT event_type AS series, CAST(ts AS DATE) AS date,
       |         CAST(ROUND(CAST(CAST(${decAggSql("value")} / COUNT(*) AS VARCHAR) AS DECIMAL(38,20)), 6) AS DOUBLE) AS value
       |  FROM events WHERE event_type IN ($inList) GROUP BY 1, 2
       |),
       |b AS (SELECT s.*, row_number() OVER ($bySeries) AS rn,
       |        CAST(ROUND(value * 1000000.0) AS BIGINT) AS v6 FROM s),
       |b1 AS (
       |  SELECT b.*,
       |    ${zscore(21)} AS ${p}_price_zscore_21d,
       |    ${zscore(63)} AS ${p}_price_zscore_63d,
       |    ${zscore(252)} AS ${p}_price_zscore_252d,
       |    ${pcSql(1)} AS ${p}_return_1d,
       |    ${pcSql(5)} AS ${p}_return_5d,
       |    ${pcSql(21)} AS ${p}_return_21d,
       |    ${maExpr(5, 3)} / (${maExpr(21, 10)} + 1e-06) AS ${p}_ma5_ma21_ratio,
       |    ${maExpr(21, 10)} / (${maExpr(63, 30)} + 1e-06) AS ${p}_ma21_ma63_ratio,
       |    ${slope(21)} AS ${p}_trend_slope_21d,
       |    ${slope(63)} AS ${p}_trend_slope_63d
       |  FROM b
       |),
       |b2 AS (
       |  SELECT b1.*, CAST(ROUND(${p}_return_1d * 1000000.0) AS BIGINT) AS r6 FROM b1
       |),
       |b3 AS (
       |  SELECT b2.*,
       |    ${vol(21, 10)} AS ${p}_volatility_21d,
       |    ${vol(63, 30)} AS ${p}_volatility_63d,
       |    CASE WHEN rn >= 7 THEN $rsi END AS ${p}_rsi_14d
       |  FROM b2
       |),
       |b4 AS (
       |  SELECT b3.*,
       |    ${dayRank(s"${p}_return_5d")} AS ${p}_return_5d_rank,
       |    ${dayRank(s"${p}_return_21d")} AS ${p}_return_21d_rank,
       |    ${dayRank(s"${p}_volatility_21d")} AS ${p}_volatility_21d_rank
       |  FROM b3
       |)
       |SELECT b4.* EXCLUDE (rn, v6, r6),
       |  CAST(CASE WHEN abs(${p}_price_zscore_21d) > 2.0 THEN 1 ELSE 0 END AS INTEGER) AS ${p}_sharp_move_flag,
       |  CAST(CASE WHEN ${p}_volatility_21d_rank > 0.75 THEN 1 ELSE 0 END AS INTEGER) AS ${p}_high_volatility_flag
       |FROM b4 ORDER BY series, date""".stripMargin
  }

  val CommodityTypes: Seq[String] = Seq("click", "purchase", "view")
  val EconomicTypes: Seq[String] = Seq("error", "signup")

  private val seriesCommodities = Q(
    (s, d) => SeriesFeatures.features(s, d, CommodityTypes, "comm")
      .drop("rn").orderBy("series", "date"),
    seriesOracle(CommodityTypes, "comm"))

  private val seriesEconomic = Q(
    (s, d) => SeriesFeatures.features(s, d, EconomicTypes, "econ")
      .drop("rn").orderBy("series", "date"),
    seriesOracle(EconomicTypes, "econ"))

  /** Order volume per market segment through the salted skew join
    * ([[graft.operators.SkewJoin]]) — same answer as the plain equi-join
    * the oracle states, via the hot-key-spreading physical strategy. */
  private val skewJoinSegments = Q(
    (s, d) => {
      val orders = graft.Tables.orders(s, d)
        .select(col("o_custkey").as("symbol_id"), col("o_totalprice"))
      val uni = graft.etl.SymbolUniverse.universe(s, d)
        .select(col("symbol_id"), col("segment"))
      graft.operators.SkewJoin.saltedInner(orders, uni, Seq("symbol_id"), salts = 8)
        .groupBy("segment")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("symbol_id")).as("n_symbols"),
          sum(graft.sqlx.Exact.dec(col("o_totalprice"))).cast("double").as("total_value"))
        .orderBy("segment")
    },
    // the upsert overlay only bumps acctbal/version, so universe segment
    // IS customer c_mktsegment
    s"""SELECT c.c_mktsegment AS segment,
       |  COUNT(*) AS n_orders,
       |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_symbols,
       |  ${decAggSql("o.o_totalprice")} AS total_value
       |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Sketch aggregations — the 100 TB substitutes for exact distinct/
    * quantiles, now DETERMINISTIC and oracle-green: KMV bottom-k sketches
    * (graft.functions.Kmv) in place of the opaque HLL++ / GK pair. Same
    * scale posture — one pass, ≤k longs of state per group, map-side
    * combinable, ObjectHashAggregate partial+final like Spark's own
    * sketches — but the estimate is a pure function of md5, so DuckDB
    * replays it bit-for-bit (rank the distinct 52-bit hashes, apply the
    * (k−1)·2^52 div h_k estimator; sample quantiles via the shared
    * franked-window interpolation). SketchSpec still bounds the error vs
    * the exact answers; sketchEventStatsExact stays as the exact anchor. */
  private val sketchEventStats = Q(
    (s, d) => {
      val k = graft.functions.Kmv.K
      graft.Tables.events(s, d)
        // hashes precomputed in a codegen'd projection (Kmv.hash52Col);
        // the aggregate updates are then pure bounded-set inserts
        .select(col("event_type"), col("value"),
          graft.functions.Kmv.hash52Col(col("user_id").cast("string")).as("uh"),
          graft.functions.Kmv.hash52Col(col("event_id").cast("string")).as("eh"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.functions.Kmv.distinctCountHashed(col("uh"), k).as("kmv_users"),
          graft.functions.Kmv.sampleHashed(col("eh"), col("value"), k).as("samp"))
        .select(col("event_type"), col("n_events"), col("kmv_users"),
          graft.functions.Kmv.quantileFromSorted(col("samp"), 0.5).as("p50_value"),
          graft.functions.Kmv.quantileFromSorted(col("samp"), 0.95).as("p95_value"))
        .orderBy("event_type")
    }, {
      val k = graft.functions.Kmv.K
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    ${graft.functions.Kmv.hashSql("CAST(user_id AS VARCHAR)")} AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |r AS (
         |  SELECT event_type, hv,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |kd AS (
         |  SELECT event_type, ${graft.functions.Kmv.estimateSql(k)} AS kmv_users
         |  FROM r GROUP BY event_type),
         |sh AS (
         |  SELECT DISTINCT event_type,
         |    ${graft.functions.Kmv.hashSql("CAST(event_id AS VARCHAR)")} AS hv,
         |    value
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |sr AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hv, value) AS srn
         |  FROM sh),
         |ranked AS (
         |  SELECT event_type, v,
         |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS frn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS fn
         |  FROM (SELECT event_type, value AS v FROM sr WHERE srn <= $k)),
         |q AS (
         |  SELECT event_type,
         |    ${graft.functions.Kmv.quantileSql("0.5")} AS p50_value,
         |    ${graft.functions.Kmv.quantileSql("0.95")} AS p95_value
         |  FROM ranked GROUP BY event_type),
         |c AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type)
         |SELECT c.event_type, c.n_events, COALESCE(kd.kmv_users, 0) AS kmv_users,
         |       q.p50_value, q.p95_value
         |FROM c
         |LEFT JOIN kd ON c.event_type IS NOT DISTINCT FROM kd.event_type
         |LEFT JOIN q ON c.event_type IS NOT DISTINCT FROM q.event_type
         |ORDER BY c.event_type""".stripMargin
    })

  /** Persisted sketch-STATE store + reaggregation (graft.functions.Kmv
    * .stateHashed / mergeStatesCol / estimateFromState) — the
    * Druid/BigQuery sketch pattern the one-shot kmv queries stop short
    * of: per-(event_type, week) KMV states are computed in ONE pass and
    * persisted (≤ k BIGINTs each); every later rollup — per-type
    * distinct users, the grand total — merges STORED states (bottom-k of
    * the union is the union's sketch, Beyer et al. §4) without ever
    * rescanning the events. The oracle replays the per-week bottom-k,
    * the merges and the integer estimate — stored-state reaggregation is
    * bit-exact by construction, not within-rsd. */
  private val sketchStoreRollup = Q(
    (s, d) => {
      val k = 512
      val tag = graft.sqlx.PathTag.of(d)
      val store = s"${sys.props("java.io.tmpdir")}/graft-sketch-store-$tag"
      // ONE pass over the data: hash in a codegen projection, bounded
      // bottom-k state per (event_type, week), persisted
      graft.Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE'2024-01-01') AS INT) div 7").as("week"),
          graft.functions.Kmv.hash52Col(col("user_id").cast("string")).as("uh"))
        .groupBy("event_type", "week")
        .agg(graft.functions.Kmv.stateHashed(col("uh"), k).as("state"))
        .write.mode("overwrite").parquet(store)
      // rollups from STORED states only — no events scan below this line
      val st = s.read.parquet(store)
      val perType = st.groupBy("event_type")
        .agg(collect_list("state").as("states"))
        .select(col("event_type"),
          graft.functions.Kmv.mergeStatesCol(col("states"), k).as("merged"))
        .select(col("event_type"),
          graft.functions.Kmv.estimateFromState("merged", k).as("est_users"))
      val grand = st.agg(collect_list("state").as("states"))
        .select(lit("__ALL__").as("event_type"),
          graft.functions.Kmv.mergeStatesCol(col("states"), k).as("merged"))
        .select(col("event_type"),
          graft.functions.Kmv.estimateFromState("merged", k).as("est_users"))
      perType.unionByName(grand).orderBy("event_type")
    }, {
      val k = 512
      val est = s"""CASE WHEN nd < $k THEN nd
                   |     ELSE CAST(${k - 1} AS BIGINT) * ${graft.functions.Kmv.Scale}
                   |          // GREATEST(hk, 1) END""".stripMargin
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS INTEGER) // 7 AS week,
         |    ${graft.functions.Kmv.hashSql("CAST(user_id AS VARCHAR)")} AS hv
         |  FROM events WHERE user_id IS NOT NULL),
         |st AS (
         |  SELECT event_type, week, hv FROM (
         |    SELECT event_type, week, hv,
         |      row_number() OVER (PARTITION BY event_type, week ORDER BY hv) AS rn
         |    FROM h) WHERE rn <= $k),
         |m1 AS (
         |  SELECT event_type, hv,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |  FROM (SELECT DISTINCT event_type, hv FROM st)),
         |e1 AS (
         |  SELECT event_type,
         |    CAST(COUNT(*) AS BIGINT) AS nd,
         |    MAX(CASE WHEN rn = $k THEN hv END) AS hk
         |  FROM m1 WHERE rn <= $k GROUP BY 1),
         |m2 AS (
         |  SELECT hv, row_number() OVER (ORDER BY hv) AS rn
         |  FROM (SELECT DISTINCT hv FROM st)),
         |e2 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         |         MAX(CASE WHEN rn = $k THEN hv END) AS hk
         |  FROM m2 WHERE rn <= $k)
         |SELECT event_type, CAST($est AS BIGINT) AS est_users FROM e1
         |UNION ALL
         |SELECT '__ALL__', CAST($est AS BIGINT) FROM e2
         |ORDER BY event_type""".stripMargin
    })

  /** Exact companion to the sketch query: the same grouping with the
    * deterministic aggregates (count, exact distinct, min/max bounds for
    * the quantile range) hash-checked against DuckDB — anchoring the
    * sketch query's keys and counts while the probabilistic columns stay
    * covered by SketchSpec's error bounds. All four aggregates are
    * map-side-combinable single-shuffle ops — scale-safe, unlike an exact
    * percentile (whose state is O(distinct values) per group). */
  private val sketchEventStatsExact = Q(
    (s, d) => graft.Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type"),
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  // ---------------------------------------------------------------- profile
  /** Per-table column lists with their Spark simpleString type labels —
    * shared by the Spark profiler (which derives them from the schema) and
    * the generated oracles below. lineitem exercises the numeric/string
    * branches; events adds the session-TZ timestamp branch. */
  private val LineitemCols: Seq[(String, String)] = Seq(
    "l_orderkey" -> "bigint", "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
    "l_linenumber" -> "int", "l_quantity" -> "double", "l_extendedprice" -> "double",
    "l_discount" -> "double", "l_tax" -> "double",
    "l_returnflag" -> "string", "l_linestatus" -> "string",
    "l_shipdate" -> "timestamp_ntz")

  private val EventsCols: Seq[(String, String)] = Seq(
    "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
    "event_type" -> "string", "value" -> "double", "props" -> "string")

  private def profileSelect(table: String, c: String, dt: String,
      kmvDistinct: Boolean): String = {
    val numeric = Set("bigint", "int", "double")
    val distinctSql =
      if (kmvDistinct) graft.relational.Profile.kmvDistinctSql(table, c, dt)
      else s"CAST(COUNT(DISTINCT $c) AS BIGINT)"
    val (minN, maxN, mean) =
      if (numeric(dt))
        (s"MIN($c)::DOUBLE", s"MAX($c)::DOUBLE",
          s"CAST(ROUND(CAST(CAST(${decAggSql(c)} / CAST(COUNT($c) AS DOUBLE) AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE)")
      else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
    val (minS, maxS) =
      if (dt == "string") (s"MIN($c)", s"MAX($c)")
      else ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
    val (minD, maxD) =
      if (dt.startsWith("timestamp") || dt == "date")
        (s"CAST(MIN($c) AS DATE)", s"CAST(MAX($c) AS DATE)")
      else ("CAST(NULL AS DATE)", "CAST(NULL AS DATE)")
    s"""SELECT '$table' AS table_name, '$c' AS column_name, '$dt' AS data_type,
       |  COUNT(*) AS n_rows, CAST(COUNT($c) AS BIGINT) AS n_nonnull,
       |  COUNT(*) - COUNT($c) AS n_nulls,
       |  $distinctSql AS n_distinct,
       |  $minN AS min_num, $maxN AS max_num, $mean AS mean,
       |  $minS AS min_str, $maxS AS max_str,
       |  $minD AS min_date, $maxD AS max_date
       |FROM $table""".stripMargin
  }

  private def profileOracle(table: String, cols: Seq[(String, String)],
      kmvDistinct: Boolean = false): String =
    cols.map { case (c, dt) => profileSelect(table, c, dt, kmvDistinct) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")

  private val tableProfile = Q(
    (s, d) => graft.relational.Profile.table(graft.Tables.lineitem(s, d), "lineitem")
      .orderBy("column_name"),
    profileOracle("lineitem", LineitemCols))

  /** The 100 TB profile path: one scan, a deterministic KMV bottom-k sketch
    * (graft.functions.Kmv) in place of the exact second melt+distinct pass.
    * Hash-green: the oracle replays each column's sketch from the canonical
    * strings (Profile.kmvDistinctSql), so the whole approx profile is
    * bit-checked, not bounds-checked — while keeping the single-scan,
    * no-Expand, constant-state-per-column posture. Still anchored by the
    * exact twin [[tableProfile]] and ProfileSpec's 5% deviation bound. */
  private val tableProfileApprox = Q(
    (s, d) => graft.relational.Profile.table(
        graft.Tables.lineitem(s, d), "lineitem", exact = false)
      .orderBy("column_name"),
    profileOracle("lineitem", LineitemCols, kmvDistinct = true))

  /** Profile over a second table shape: events exercises the session-TZ
    * timestamp branch (ts → date min/max) plus an all-distinct id column
    * and a high-cardinality string column (props). */
  private val tableProfileEvents = Q(
    (s, d) => graft.relational.Profile.table(graft.Tables.events(s, d), "events")
      .orderBy("column_name"),
    profileOracle("events", EventsCols))

  /** Key-integrity contract report (Contracts.scala): the reference DDL's
    * PK constraints re-asserted by query. Oracle generated from the same
    * declared-key list the Spark side uses. */
  private def contractSelect(table: String, keys: Seq[String]): String = {
    val nonNull = keys.map(k => s"$k IS NOT NULL").mkString(" AND ")
    val anyNull = keys.map(k => s"$k IS NULL").mkString(" OR ")
    val keyExpr = keys.map(k => s"CAST($k AS VARCHAR)").mkString(" || '|' || ")
    val distinctKeys = s"COUNT(DISTINCT CASE WHEN $nonNull THEN $keyExpr END)"
    val nullRows = s"COUNT(CASE WHEN $anyNull THEN 1 END)"
    s"""SELECT '$table' AS table_name, '${keys.mkString(",")}' AS key_columns,
       |  COUNT(*) AS n_rows,
       |  $distinctKeys AS n_distinct_keys,
       |  $nullRows AS n_null_key_rows,
       |  ($nullRows = 0 AND $distinctKeys = COUNT(*)) AS pk_ok
       |FROM $table""".stripMargin
  }

  private val tableContracts = Q(
    (s, d) => graft.relational.Contracts.report(s, d),
    graft.relational.Contracts.keysByTable
      .map { case (t, ks) => contractSelect(t, ks) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name"))

  /** Referential-integrity contracts (Contracts.fkReport): one row per
    * declared REFERENCES edge, orphans counted through a distinct-parent
    * anti join. The oracle mirrors the NULL-vs-orphan split (SQL FK
    * semantics admit NULL FKs). */
  private val tableFkContracts = Q(
    (s, d) => graft.relational.Contracts.fkReport(s, d),
    graft.relational.Contracts.foreignKeys.map { case (childT, fkCol, parentT, pkCol) =>
      s"""SELECT child_table, fk_column, parent_table,
         |  n_child_rows, n_null_fk_rows, n_orphans, n_orphans = 0 AS fk_ok
         |FROM (
         |  SELECT '$childT' AS child_table, '$fkCol' AS fk_column, '$parentT' AS parent_table,
         |    (SELECT COUNT(*) FROM $childT) AS n_child_rows,
         |    (SELECT COUNT(*) FROM $childT WHERE $fkCol IS NULL) AS n_null_fk_rows,
         |    (SELECT COUNT(*) FROM $childT c
         |      WHERE c.$fkCol IS NOT NULL
         |        AND NOT EXISTS (SELECT 1 FROM $parentT p WHERE p.$pkCol = c.$fkCol)) AS n_orphans
         |)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY child_table, fk_column"))

  val all: Map[String, Q] = Map(
    "table_contracts" -> tableContracts,
    "table_fk_contracts" -> tableFkContracts,
    "table_profile" -> tableProfile,
    "table_profile_approx" -> tableProfileApprox,
    "table_profile_events" -> tableProfileEvents,
    "sketch_event_stats" -> sketchEventStats,
    "sketch_store_rollup" -> sketchStoreRollup,
    "sketch_event_stats_exact" -> sketchEventStatsExact,
    "skew_join_segments" -> skewJoinSegments,
    "insider_txn" -> insiderTxn,
    "insider_agg" -> insiderAgg,
    "sentiment_agg" -> sentimentAgg,
    "text_eda" -> textEda,
    "db_summary" -> dbSummary,
    "series_commodities" -> seriesCommodities,
    "series_economic" -> seriesEconomic)
}
