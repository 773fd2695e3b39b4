package graft.queries

import graft.SparkSpec

/** backtest_metrics on a 5th-decimal rounding tie: two trades whose pnl
  * averages to −287.77455 — the binary double lies just above the tie, so
  * rounding the double's exact value gives −287.7745 while Spark's
  * round(double) (HALF_UP on the shortest repr) gives −287.7746. The
  * registered query and its DuckDB oracle must agree on every double. */
class MetricsRoundingSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private lazy val tieTrades = Seq(
    ("s", 1L, d("2024-01-02"), d("2024-01-09"), 7, -300.0, -3.0, 20.0),
    ("s", 2L, d("2024-01-03"), d("2024-01-12"), 9, -275.5491, -2.7549, 19.5)
  ).toDF("trade_strategy", "symbol_id", "entry_date", "exit_date", "holding_days",
    "pnl", "pnl_pct", "commission")

  private lazy val spark4dp =
    BacktestQueries.perStrategyRounded(tieTrades).collect().head

  test("Spark side: an average on a .xxxx5 tie rounds half away from zero") {
    assert(spark4dp.getAs[Double]("avg_trade_return") == -287.7746)
    assert(spark4dp.getAs[Double]("total_return") == -575.5491)
  }

  test("DuckDB oracle rounds every metric through the same decimal path") {
    val py = scala.util.Try(scala.sys.process.Process(
      Seq("python3", "-c", "import duckdb")).!).getOrElse(1)
    assume(py == 0, "python3 with duckdb is needed to replay the oracle")
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics-tie").toString
    tieTrades.coalesce(1).write.mode("overwrite").parquet(s"$dir/trades")
    val sql =
      s"""WITH trades_all AS (SELECT * FROM read_parquet('$dir/trades/*.parquet')),
         |${BacktestQueries.metricsCtes("trades_all")}
         |${BacktestQueries.metricsSelect("dd")}""".stripMargin
    val script =
      """import sys, duckdb
        |cur = duckdb.connect().execute(sys.argv[1])
        |names = [c[0] for c in cur.description]
        |for row in cur.fetchall():
        |    for n, v in zip(names, row):
        |        if isinstance(v, float):
        |            print(n, repr(v))""".stripMargin
    val out = scala.sys.process.Process(Seq("python3", "-c", script, sql)).!!
    val oracle = out.linesIterator.map(_.split(" ")).map(a => a(0) -> a(1).toDouble).toMap
    val doubles = spark4dp.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType => f.name
    }
    assert(oracle.keySet == doubles.toSet)
    doubles.foreach { c =>
      assert(java.lang.Double.compare(oracle(c), spark4dp.getAs[Double](c)) == 0,
        s"$c: oracle ${oracle(c)} vs spark ${spark4dp.getAs[Double](c)}")
    }
    assert(oracle("avg_trade_return") == -287.7746)
  }
}
