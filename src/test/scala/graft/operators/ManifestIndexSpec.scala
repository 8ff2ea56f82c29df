package graft.operators

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ContentSummary, DelegateToFileSystem, FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The local file system, recording the name of every call made into it. */
class CountingFileSystem extends LocalFileSystem {
  private def call[T](name: String)(body: => T): T = {
    CountingFileSystem.calls.add(name)
    body
  }
  override def listStatus(f: Path): Array[FileStatus] =
    call("listStatus")(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    call("listStatusIterator")(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    call("listLocatedStatus")(super.listLocatedStatus(f))
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] =
    call("listFiles")(super.listFiles(f, recursive))
  override def getContentSummary(f: Path): ContentSummary =
    call("getContentSummary")(super.getContentSummary(f))
  override def getFileStatus(f: Path): FileStatus =
    call("getFileStatus")(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    call("open")(super.open(f, bufferSize))
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    call("create")(super.create(f, p, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = call("rename")(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    call("delete")(super.delete(f, recursive))
  override def mkdirs(f: Path, p: FsPermission): Boolean = call("mkdirs")(super.mkdirs(f, p))
}

object CountingFileSystem {
  val calls = new ConcurrentLinkedQueue[String]
}

/** [[CountingFileSystem]] behind `FileContext`, the API manifests and
  * pointers are read through.
  */
class CountingAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingFileSystem, conf, "file", false)

/** Reads are planned from the manifest alone: a constant number of
  * filesystem calls whatever the partition or file count, no listing, no
  * Spark job while the frame is built, and partition filters prune the
  * manifest's files.
  */
class ManifestIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** `body`'s result and the calls it made into the local file system
    * through either Hadoop API.
    */
  private def counted[T](body: => T): (T, Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val counting = Map(
      "fs.file.impl" -> classOf[CountingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "fs.AbstractFileSystem.file.impl" -> classOf[CountingAbstractFileSystem].getName)
    val saved = counting.keys.map(k => k -> Option(conf.get(k)))
    counting.foreach { case (k, v) => conf.set(k, v) }
    CountingFileSystem.calls.clear()
    try {
      val result = body
      (result, CountingFileSystem.calls.asScala.toSeq)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** `body`'s result and the Spark jobs it started. */
  private def jobs[T](body: => T): (T, Int) = {
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      ListenerBusDrain(spark.sparkContext)
      (result, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A table of `n` partitions: a base with row ids, a delta over every
    * partition, and position deletes in some of them.
    */
  private def table(dir: String, n: Int): String = {
    val tbl = s"$dir/t$n"
    val rows = spark.range(2L * n)
      .select(col("id").as("event_id"),
        (col("id") % n).cast("string").as("event_type"),
        (col("id") * 10).as("cents"))
      .repartition(col("event_type"))
    ManifestTable.appendPartitionedDelta(ManifestTable.withRowIds(rows),
      tbl, 1L, "event_type")
    ManifestTable.appendPartitionedDelta(ManifestTable.withRowIds(
      rows.filter(col("event_id") < n).withColumn("event_id", col("event_id") + 2L * n)),
      tbl, 2L, "event_type")
    ManifestTable.appendPositionDeletes(ManifestTable
        .readPartitionedMoR(spark, tbl, "event_type", 2L, rowIds = true)
        .filter(col("event_id") % 7 === 0),
      tbl, 3L, "event_type")
    tbl
  }

  /** An unpartitioned table of `n` files, one row each. */
  private def flat(dir: String, n: Int): String = {
    val tbl = s"$dir/f$n"
    ManifestTable.publish(spark.range(0L, n.toLong, 1L, n)
      .select(col("id").as("event_id"), (col("id") * 10).as("cents")), tbl, 1L)
    val files = ManifestTable.readManifest(spark, tbl, 1L).catalog.values
      .map(_.files.values.map(_.size).sum).sum
    assert(files == n, s"$n files landed")
    tbl
  }

  /** One file group of a q253 evolved table: `n` 7-day blocks of one
    * row a day, partitioned by their block id `p`.
    */
  private def group(dir: String, n: Int): String = {
    val tbl = s"$dir/g$n/groups/d7"
    ManifestTable.appendPartitionedDelta(spark.range(7L * n)
      .select(col("id").as("event_id"), col("id").as("day"),
        (col("id") / 7).cast("long").as("p"))
      .repartition(col("p")), tbl, 1L, "p")
    tbl
  }

  test("planning a read costs the same filesystem calls and no job at 10 and at 1,000 partitions or files") {
    val out = java.nio.file.Files.createTempDirectory("graft-mplan")
    try {
      // what grows, the table at n, its read, and the rows it serves: 3n
      // ids less the multiples of 7, n ids, or the 5 blocks a group's
      // read keeps
      val inputs = Seq[(String, Int => String, String => DataFrame, Int => Long)](
        ("partitions", table(out.toString, _),
          ManifestTable.readPartitionedMoR(spark, _, "event_type", 3L),
          n => (0L until 3L * n).count(_ % 7 != 0).toLong),
        ("files", flat(out.toString, _), ManifestTable.readVersion(spark, _, 1L),
          _.toLong),
        ("groups", group(out.toString, _),
          ManifestTable.readPartitioned(spark, _, "p").filter(col("p").between(1, 5)),
          _ => 35L))
      for ((unit, build, read, rows) <- inputs) {
        val plans = Seq(10, 1000).map { n =>
          val tbl = build(n)
          val ((df, nJobs), calls) = counted(jobs {
            val df = read(tbl)
            df.queryExecution.executedPlan
            df
          })
          assert(df.count() == rows(n), s"$n $unit")
          (n, calls, nJobs)
        }
        val Seq((_, small, _), (_, large, _)) = plans
        assert(small == large,
          s"filesystem calls grow with the $unit count: $small vs $large")
        plans.foreach { case (n, calls, nJobs) =>
          val walks = calls.filter(c => c.startsWith("list") || c == "getContentSummary")
          assert(walks.isEmpty, s"$n $unit: listings while planning: $walks")
          assert(nJobs == 0, s"$n $unit: $nJobs Spark jobs while planning")
        }
      }
    } finally graft.Scratch.rmTree(out.toFile)
  }

  test("partition filters read only the manifest files of the partitions they keep") {
    val hostile = "a/b=c%d:e\tf\ng#h"
    val values = Seq("plain", hostile, null)
    def batch(n: Int) = values.flatMap(p => (0 until 4).map(i => (100L * n + i, p, n * 10L)))
      .toDF("event_id", "event_type", "cents").repartition(2)
    val out = java.nio.file.Files.createTempDirectory("graft-mprune")
    try {
      val tbl = s"$out/tbl"
      (1 to 2).foreach(n => ManifestTable.appendPartitionedDelta(
        ManifestTable.withRowIds(batch(n)), tbl, n.toLong, "event_type"))
      val m = ManifestTable.readManifest(spark, tbl, 2L)
      def filesOf(p: String, dirs: Seq[String] => Seq[String] = identity) =
        m.files(p, dirs(m.parts(p).dirs)).size.toLong
      def filesRead(df: DataFrame): Long =
        collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
          s.metrics("numFiles").value
        }.sum
      def check(rowIds: Boolean, filter: Column, keep: Row => Boolean, files: Long): Unit = {
        val read = ManifestTable.readPartitionedMoR(spark, tbl, "event_type", 2L, rowIds)
        val all = read.collect()
        val pruned = read.filter(filter)
        assert(pruned.collect().toSet == all.filter(keep).toSet, filter)
        assert(filesRead(pruned) == files, filter)
        assert(files > 0 && files < m.parts.keys.toSeq.map(filesOf(_)).sum, filter)
      }
      def partIs(p: String)(r: Row) = r.getAs[String]("event_type") == p
      check(false, col("event_type") === "plain", partIs("plain"), filesOf("plain"))
      check(false, col("event_type").isNull, partIs(null), filesOf(null))
      check(false, col("event_type") === hostile, partIs(hostile), filesOf(hostile))
      check(true, col("_src_version") === 2L, _.getAs[Long]("_src_version") == 2L,
        values.map(filesOf(_, _.filter(_ == "v2"))).sum)
    } finally graft.Scratch.rmTree(out.toFile)
  }
}
