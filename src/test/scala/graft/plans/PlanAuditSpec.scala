package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions._

/** Physical-plan audits — the 100 TB design rules of SURVEY.md §5 asserted
  * against actual executed plans: column pruning reaches the parquet scan,
  * filters push down, the windowed feature ladder uses a single exchange,
  * and no bucketed operator degenerates into a CartesianProduct. */
class PlanAuditSpec extends SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan
  }

  /** Full traversal incl. AQE stage boundaries (QueryStageExec subplans are
    * fields, not children). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
      case _ => Nil
    }
    p +: (p.children ++ nested).flatMap(allNodes)
  }
  private def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    allNodes(plan).collect { case s: FileSourceScanExec => s }

  test("column pruning: bars scan reads only the needed event columns") {
    val df = graft.features.Bars.daily(graft.Tables.events(spark, sf("sf0.001")))
    val scan = scans(executed(df)).head
    val read = scan.requiredSchema.fieldNames.toSet
    assert(!read.contains("props"), s"props should be pruned, read=$read")
    assert(read == Set("event_id", "ts", "user_id", "value"), s"read=$read")
  }

  test("filter pushdown: series features push the event_type filter to the scan") {
    val df = graft.features.SeriesFeatures.daily(spark, sf("sf0.001"), Seq("click", "view"))
    val scan = scans(executed(df)).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(event_type") || pushed.contains("event_type"),
      s"expected event_type pushdown, got: $pushed")
  }

  test("ts predicates push through the events reader's encoding normalization to the scan") {
    // Tables.events normalizes ts (nanos-long / NTZ-micros → session-TZ
    // timestamp); a range predicate on the normalized column must still
    // reach the parquet scan as a PushedFilter — at 100 TB this is the
    // difference between pruning row groups and reading the table
    val df = graft.Tables.events(spark, sf("sf0.001"))
      .where(col("ts") >= lit("2024-03-01").cast("timestamp"))
      .select("event_id", "ts")
    val scan = scans(executed(df)).head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ts") || pushed.contains("GreaterThanOrEqual(`ts`"),
      s"expected ts range pushdown, got: $pushed")
  }

  test("windowed feature ladder plans a single shuffle exchange (all specs share the symbol partitioning)") {
    val bars = graft.features.Bars.daily(graft.Tables.events(spark, sf("sf0.001")))
    val feats = graft.features.Targets.withTargets(graft.features.Indicators.windowed(bars))
    val plan = executed(feats)
    val exchanges = allNodes(plan).collect { case e: ShuffleExchangeExec => e }
    // one exchange for the bars aggregation, one for the window ladder — and
    // nothing more despite ~60 window expressions
    assert(exchanges.size <= 2, s"expected <=2 exchanges, got ${exchanges.size}")
  }

  private def windows(plan: org.apache.spark.sql.execution.SparkPlan) =
    allNodes(plan).collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan) =
    allNodes(plan).collect { case e: ShuffleExchangeExec => e }
  private def bars = graft.features.Bars.daily(graft.Tables.events(spark, sf("sf0.001")))

  test("signal features: one window pass and the recursive scan share the ladder's exchange") {
    val plan = executed(graft.queries.SignalQueries.features(bars))
    // the bars aggregation and the ladder's symbol exchange; the sliding
    // frames share one Window, the running frame (OBV sums over a lag) a second
    assert(windows(plan).size <= 2, s"expected <=2 windows, got ${windows(plan).size}:\n$plan")
    assert(exchanges(plan).size <= 2, s"expected <=2 exchanges, got ${exchanges(plan).size}:\n$plan")
  }

  test("all strategies: one exchange for the eleven strategies, divergence included") {
    val features = graft.queries.SignalQueries.signalFeatures(spark, sf("sf0.001"))
      .repartition(3, col("date")) // clustered by anything but the symbol
    val plan = executed(graft.queries.SignalQueries.signals(features))
    val byKey = exchanges(plan).map(_.outputPartitioning.toString)
    assert(byKey.size <= 2 && byKey.count(_.contains("symbol_id")) == 1,
      s"expected one symbol exchange besides the input's, got $byKey:\n$plan")
  }

  test("the recursive scan over a symbol-clustered input plans no exchange") {
    val clustered = bars.repartition(col("symbol_id")).sortWithinPartitions("symbol_id", "date")
    val before = exchanges(executed(clustered)).size
    val plan = executed(graft.features.Recursive.withRecursive(clustered))
    assert(exchanges(plan).size == before, s"the scan added an exchange:\n$plan")
    assert(allNodes(plan).exists(_.isInstanceOf[org.apache.spark.sql.execution.MapGroupsExec]),
      s"expected a MapGroups scan:\n$plan")
    // a bucketed read is clustered by its bucket key: no exchange at all
    graft.sources.BucketedTables.write(bars, "plan_audit_bars", Seq("symbol_id"), 4, Seq("date"))
    val bucketed = executed(graft.features.Recursive.withRecursive(
      graft.sources.BucketedTables.read(spark, "plan_audit_bars")))
    assert(exchanges(bucketed).isEmpty, s"bucketed recursive scan exchanged:\n$bucketed")
  }

  test("backtest: the simulation's scan input is exchanged on (strategy, symbol)") {
    import spark.implicits._
    val signals = Seq(("s", 1L, java.sql.Date.valueOf("2024-01-01"), true, false, 10.0))
      .toDF("trade_strategy", "symbol_id", "date", "buy_signal", "sell_signal", "close")
    val plan = executed(graft.backtest.Simulator.simulate(signals))
    // the exchanges moving signal rows (not the per-strategy max's 11 rows)
    val keys = exchanges(plan).filter(_.child.output.exists(_.name == "buy_signal"))
      .map(_.outputPartitioning).collect {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.references.map(_.name).toSet
      }
    assert(keys == Seq(Set("trade_strategy", "symbol_id")),
      s"expected one (strategy, symbol) exchange of the signals, got $keys:\n$plan")
    // and no window partitioned by the strategy alone
    assert(windows(plan).isEmpty, s"strategy window in the simulation plan:\n$plan")
  }

  test("quality scores: no single-partition window touches the data (distributed quantile)") {
    val df = graft.fundamentals.QualityScores.scores(spark, sf("sf0.001"))
    val windows = allNodes(executed(df)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(windows.isEmpty,
      s"global (empty-partition) window in quality-score plan:\n${windows.mkString("\n")}")
  }

  test("quality scores: no sector/industry rank window, and a compact analyzed plan") {
    // a fresh session builds the statements and scores memos from scratch;
    // the listener sees every execution that build runs, the lineage
    // truncations included (the truncated frames' own plans are bare scans)
    val s = spark.newSession()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    graft.fundamentals.QualityScores.scores(s, sf("sf0.001"))
    import scala.jdk.CollectionConverters._
    def scoresQe = seen.asScala.find(_.analyzed.output.exists(_.name == "overall_quality_score"))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (scoresQe.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    s.listenerManager.unregister(listener)
    assert(scoresQe.nonEmpty, "the scores build never ran")
    // the scores read no sector/industry rank: none may be computed for them
    val ranked = seen.asScala.toSeq.flatMap(qe => allNodes(qe.executedPlan)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.flatMap(_.references).exists(a => Set("sector", "industry")(a.name)) => w
    }
    assert(ranked.isEmpty, s"rank windows computed for the scores:\n${ranked.mkString("\n")}")
    // named score stages: each intermediate analyzed once, not inlined at every use
    val nodes = scoresQe.get.analyzed.collect { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum
    }.sum
    assert(nodes < 8000, s"analyzed scores plan holds $nodes expression nodes")
  }

  test("corpus ops prune the documents scan to the columns they use") {
    // packing needs only (doc_id, text→token count); lang/source/n_chars
    // must not be read — at 100 TB the text column dominates, but reading
    // metadata columns the query never touches is still a scan-width bug
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), size(split(trim(col("text")), " ")).as("n_tokens"))
    val packed = graft.operators.Packing.packWindows(docs, "doc_id", "n_tokens", 512)
    scans(executed(packed)).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
        s"packing read=${s.requiredSchema.fieldNames.mkString(",")}")
    }
    val dec = graft.text.Decontaminate.overlap(
      graft.Tables.documents(spark, sf("sf0.001")), col("doc_id") % 20 === 19, 0.5)
    scans(executed(dec)).foreach { s =>
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("doc_id", "text")),
        s"decontaminate read=${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("packing: the global-offset cumsum never plans a single-partition window") {
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), size(split(trim(col("text")), " ")).as("n_tokens"))
    val packed = graft.operators.Packing.packWindows(docs, "doc_id", "n_tokens", 512)
    val globals = allNodes(executed(packed)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globals.isEmpty, s"global window in packing plan:\n${globals.mkString("\n")}")
  }

  test("candlestick prep pushes the date-range predicate to the events scan") {
    val df = graft.queries.ChartQueries.all("candlestick_prep").run(spark, sf("sf0.001"))
    val pushed = scans(executed(df)).map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("ts"), s"expected ts range pushdown, got: $pushed")
  }

  test("tombstone masking is a broadcast anti-join — the data side never shuffles for a delete mask") {
    import graft.sources.TableMaintenance
    import spark.implicits._
    val root = s"${sys.props("java.io.tmpdir")}/graft-plan-tombstone"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    (0 until 5000).map(i => (i.toLong, i.toDouble)).toDF("k", "value")
      .repartition(2).write.parquet(TableMaintenance.dataPath(root, 1L))
    TableMaintenance.initGen(spark, root, Seq("k"), Seq("k"))
    TableMaintenance.forget(spark, root, "k",
      spark.range(5000).select(col("id").as("k")).where(col("k") % 50 === 7))
    val plan = executed(TableMaintenance.readCurrent(spark, root))
    val anti = allNodes(plan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
    }
    assert(anti.nonEmpty, s"masking must plan a broadcast LEFT ANTI join:\n$plan")
    assert(allNodes(plan).collect { case s: ShuffleExchangeExec => s }.isEmpty,
      "a delete-request-sized mask must never shuffle the data side")
    // and with nothing pending, the anti-join is never added at all
    TableMaintenance.maintain(spark, root, "k", 5000L, Seq("k"), Seq("k"))
    val clean = executed(TableMaintenance.readCurrent(spark, root))
    assert(allNodes(clean).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.isEmpty, "no pending tombstones ⇒ the bare scan, no mask operator")
  }

  test("DSIR: the corpus feature explode is built once — both readers hit the cache") {
    // round 13's plan re-evaluated the tokenize→explode subtree 5× (6.45×
    // its bench baseline; five corpus passes at 100 TB). The single-pass
    // shape keeps every Generate (explode) INSIDE the one persisted feats
    // build: the executed plan of the output must contain zero Generate
    // nodes and read the corpus only through InMemoryTableScans.
    val df = graft.text.Dsir.weights(
      graft.Tables.documents(spark, sf("sf0.001")), col("doc_id") % 20 >= 18)
    val plan = executed(df)
    val gens = allNodes(plan).collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.isEmpty,
      s"tokenize/explode must live only in the cached feats build:\n$plan")
    val cacheReads = allNodes(plan).collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(cacheReads.nonEmpty, s"scoring must read the persisted feats:\n$plan")
    // and no documents parquet scan survives outside the cache build
    assert(scans(plan).isEmpty,
      s"all corpus reads must come from the persisted frames:\n$plan")
  }

  /** Every optimized logical plan and executed physical plan a fresh
    * session runs for one registered query — lineage truncations and the
    * builds of the persisted frames it reads included (a cached frame's
    * plans hang off its InMemoryRelation, not off the reader's tree). */
  private def sessionPlans(query: String): (Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    val s = spark.newSession()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val df = graft.SparkEntry.registry(query).run(s, sf("sf0.001"))
    df.collect()
    import scala.jdk.CollectionConverters._
    // the bus delivers in order: once the final collect is seen, so is every earlier run
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!seen.asScala.exists(_ eq df.queryExecution) && System.nanoTime() < deadline)
      Thread.sleep(20)
    s.listenerManager.unregister(listener)
    assert(seen.asScala.exists(_ eq df.queryExecution), s"$query never finished")
    def logical(p: LogicalPlan): Seq[LogicalPlan] = p.collect { case n => n }.flatMap {
      case m: InMemoryRelation => m +: logical(m.cacheBuilder.logicalPlan)
      case n => Seq(n)
    }
    def physical(p: SparkPlan): Seq[SparkPlan] = allNodes(p).flatMap {
      case m: InMemoryTableScanExec => m +: physical(m.relation.cacheBuilder.cachedPlan)
      case n => Seq(n)
    }
    val qes = seen.asScala.toSeq
    (qes.flatMap(qe => logical(qe.optimizedPlan)), qes.flatMap(qe => physical(qe.executedPlan)))
  }

  for (query <- Seq("dedup_minhash", "decontaminate_fuzzy"))
    test(s"$query signs and verifies shingle sets: no collect_list, no shingle exchange, " +
      "an O(n) trigram lambda") {
      import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
      import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
      val (logical, physical) = sessionPlans(query)
      def exprs = logical.flatMap(_.expressions) ++ physical.flatMap(_.expressions)
      def has(e: Expression)(pf: PartialFunction[Expression, Boolean]) =
        e.exists(x => pf.applyOrElse(x, (_: Expression) => false))
      // the sets are rebuilt, never reassembled from exploded rows
      assert(!exprs.exists(has(_) { case _: CollectList => true }),
        s"$query plans a collect_list")
      val shingleExchanges = physical.collect {
        case e: ShuffleExchangeExec if e.child.output.exists(_.name == "shingle") => e
      }
      assert(shingleExchanges.isEmpty, s"$query shuffles shingle rows:\n${shingleExchanges.mkString}")
      // the trigram lambda reads its own struct; the split stays outside it
      val lambdas = exprs.flatMap(_.collect { case l: LambdaFunction => l })
      assert(lambdas.nonEmpty, s"$query plans no trigram lambda: the pin cannot bite")
      assert(!lambdas.exists(has(_) { case _: StringSplit => true }),
        s"$query splits the text inside a lambda:\n${lambdas.mkString("\n")}")
      val conds = logical.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition } ++
        physical.collect { case f: org.apache.spark.sql.execution.FilterExec => f.condition }
      assert(!conds.exists(has(_) { case _: StringSplit | _: LambdaFunction => true }),
        s"$query filters on the trigram expression:\n${conds.mkString("\n")}")
    }

  test("no registered query degenerates into a CartesianProduct except declared all-pairs baselines") {
    val allowed = Set("dedup_embedding", "ann_topk") // documented exact all-pairs baselines
    graft.SparkEntry.registry.foreach { case (name, q) =>
      if (!allowed(name)) {
        val plan = q.run(spark, sf("sf0.001")).queryExecution.executedPlan
        val cart = plan.collect { case c: CartesianProductExec => c }
        assert(cart.isEmpty, s"$name has a CartesianProduct")
      }
    }
  }
}
