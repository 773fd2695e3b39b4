package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool (round 17): snapshot `.explain("formatted")` of named
  * registered queries to `plans/<tag>/<query>_<suffix>.txt` — the
  * before/after plan evidence for optimization rounds. The query function
  * RUNS first (store-building queries mutate /tmp stores and return a
  * read-back frame), then the returned frame's formatted plan is dumped.
  *
  * Usage: `sbt "runMain graft.tools.PlanSnap <tag> <suffix> q1 q2 ..."`
  * e.g.   `sbt "runMain graft.tools.PlanSnap r17 before forget_cascade"` */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanSnap <tag> <suffix> <query>...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.envCpus)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        (s"== $name ($suffix, $d) ==\n" + txt).getBytes("UTF-8"))
      println(s"[plansnap] wrote plans/$tag/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
