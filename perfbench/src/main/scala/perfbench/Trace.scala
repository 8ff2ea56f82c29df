package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts fed by the listeners the benchmark registers in a traced run. */
object Counters {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = if (v != 0) synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot(): Map[String, Double] = synchronized(m.toMap)
}

/** Jobs, stages, tasks and task metrics from the scheduler. */
final class ExecListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Counters.add("exec.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("exec.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.add("exec.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      Counters.add("exec.task_s", m.executorRunTime / 1000.0)
      Counters.add("exec.gc_s", m.jvmGCTime / 1000.0)
      Counters.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Counters.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      Counters.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Counters.add("io.bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Catalyst phase times and the shape of each executed plan. Scan counts
  * come from the file-scan nodes, so reads of cached blocks are not
  * counted as source reads. A scan that fills a cache runs inside the
  * cached plan, so the scan walk also enters cached plans, and counts each
  * scan node's metrics once, by the growth since that node was last seen.
  */
final class PlanListener extends QueryExecutionListener {
  private def nodes(p: SparkPlan, intoCache: Boolean = false): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
    case q: QueryStageExec => nodes(q.plan, intoCache)
    case _: ReusedExchangeExec => Nil
    case m: InMemoryTableScanExec if intoCache => m +: nodes(m.relation.cachedPlan, intoCache)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes(_, intoCache))
  }

  private val scanSeen = new java.util.IdentityHashMap[SparkPlan, Seq[Double]]()
  private val scanMetrics = Seq("numFiles" -> "sources.files_read",
    "filesSize" -> "sources.bytes_read", "numOutputRows" -> "sources.rows_read")

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    Seq("analysis", "optimization", "planning").foreach { ph =>
      qe.tracker.phases.get(ph).foreach(s => Counters.add(s"plans.${ph}_ms", s.durationMs.toDouble))
    }
    nodes(qe.executedPlan).foreach {
      case _: ShuffleExchangeExec => Counters.add("plans.exchanges", 1)
      case _: BroadcastExchangeExec => Counters.add("plans.broadcasts", 1)
      case _: SortMergeJoinExec => Counters.add("plans.sort_merge_joins", 1)
      case w: DataWritingCommandExec =>
        Counters.add("io.files_written", w.cmd.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
      case _ =>
    }
    nodes(qe.executedPlan, intoCache = true).foreach {
      case s: FileSourceScanExec => scanSeen.synchronized {
        val now = scanMetrics.map { case (k, _) => metric(s, k) }
        val before = Option(scanSeen.put(s, now)).getOrElse(now.map(_ => 0.0))
        scanMetrics.zip(now.zip(before)).foreach { case ((_, name), (n, b)) => Counters.add(name, n - b) }
      }
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Per-trigger duration breakdown of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Counters.add("stream.triggers", 1)
    p.durationMs.asScala.foreach { case (k, v) =>
      val name = k.replaceAll("([A-Z])", "_$1").toLowerCase
      Counters.add(s"stream.${name}_ms", v.doubleValue)
    }
    Option(p.durationMs.get("triggerExecution")).foreach(v => synchronized(triggerMs += v.doubleValue))
    p.stateOperators.foreach { s =>
      Counters.add("stream.state_commit_ms", s.commitTimeMs.toDouble)
      Counters.add("stream.state_rows", s.numRowsTotal.toDouble)
    }
  }
}

/** The local file system with a count of every call the engine makes into
  * it (listings, status lookups, directory and rename/delete calls, opens
  * and creates). Installed as `fs.file.impl` in a traced run only.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def mkdirs(f: Path): Boolean = { ops.incrementAndGet(); super.mkdirs(f) }
  override def rename(s: Path, d: Path): Boolean = { ops.incrementAndGet(); super.rename(s, d) }
  override def delete(f: Path, r: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, r) }
  override def open(f: Path, b: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, b) }
  override def create(f: Path, p: FsPermission, o: Boolean, b: Int, r: Short, s: Long,
      pr: Progressable): FSDataOutputStream = { ops.incrementAndGet(); super.create(f, p, o, b, r, s, pr) }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong
}

/** One timed call into a layer: its name (`layer.what`), start, end, the
  * span that caused it, and the count deltas it saw.
  */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
    val startNs: Long) {
  var endNs = 0L
  var counts: Map[String, Double] = Map.empty
}

/** Spans kept in memory and written out when the run ends. With one
  * client, spans never overlap except by nesting, so every count delta
  * seen between a span's boundaries belongs to it (and its children).
  */
object Trace {
  var on = false
  private var spark: SparkSession = _
  private var streams: StreamListener = _
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Registers the listeners on `s`; the scheduler listener once per
    * Spark context, the query and streaming listeners once per session.
    */
  def install(s: SparkSession): Unit = {
    if (spark == null) {
      s.sparkContext.addSparkListener(new ExecListener)
      streams = new StreamListener
    }
    spark = s
    s.listenerManager.register(new PlanListener)
    s.streams.addListener(streams)
  }

  def triggerMs: Seq[Double] = if (streams == null) Nil else streams.synchronized(streams.triggerMs.toSeq)

  def fsCounting: Boolean = org.apache.hadoop.fs.FileSystem
    .get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    .isInstanceOf[CountingLocalFileSystem]

  private def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    Counters.snapshot() + ("fs.ops" -> CountingLocalFileSystem.ops.get.toDouble)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val before = snapshot()
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), Record.pass,
        System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        val after = snapshot()
        stack = stack.tail
        s.counts = after.collect {
          case (k, v) if v - before.getOrElse(k, 0.0) != 0 => k -> (v - before.getOrElse(k, 0.0))
        }
      }
    }
}
