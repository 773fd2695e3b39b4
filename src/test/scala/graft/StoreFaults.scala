package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.concurrent.TrieMap
import graft.sources.{CommitArbiter, HadoopCommitArbiter}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Fault and interleaving injection for store specs, through public seams
  * only:
  *   - named gates a Spark job waits on (local mode: executors share the
  *     driver JVM), so a spec can hold a mutation mid-flight — after it
  *     resolved the head, while its data job runs, before it commits —
  *     and probe, race or release it deterministically;
  *   - a commit arbiter that dies at the CAS rename, leaving exactly what a
  *     writer killed between its data write and its commit leaves. */
object StoreFaults {
  private val gates = TrieMap.empty[String, CountDownLatch]
  private def gate(name: String) = gates.getOrElseUpdate(name, new CountDownLatch(1))

  def open(name: String): Unit = gate(name).countDown()

  def await(name: String): Unit =
    require(gate(name).await(120, TimeUnit.SECONDS), s"gate '$name' never opened")

  /** Fresh gates for a test (a gate opens once). */
  def reset(names: String*): Unit = names.foreach(gates.remove)

  /** The long column `c` unchanged, evaluated only after opening gate
    * `arrive` and waiting for gate `proceed`. The closure captures only
    * the two names. */
  def pass(c: Column, arrive: String, proceed: String): Column =
    udf { (v: Long) => open(arrive); await(proceed); v }.asNondeterministic()(c)

  /** Run `f` with every local-filesystem commit CAS dying at its rename;
    * returns the crash. */
  def crashAtCommit(f: => Any): Throwable = {
    CommitArbiter.register("file", new CommitArbiter {
      def tryCreateExclusive(s: SparkSession, file: String): Boolean =
        HadoopCommitArbiter.tryCreateExclusive(s, file)
      def tryAtomicRename(s: SparkSession, src: Path, dst: Path): Boolean =
        throw new IllegalStateException(s"injected crash before committing $dst")
    })
    try { f; throw new AssertionError("the mutation committed through a crashing CAS") }
    catch { case e: IllegalStateException => e }
    finally CommitArbiter.deregister("file")
  }

  /** Start `f` on its own thread; the returned thunk joins it. */
  def background[T](f: => T): () => Either[Throwable, T] = {
    val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() => out.set(try Right(f) catch { case e: Throwable => Left(e) }))
    t.start()
    () => { t.join(); out.get }
  }
}
