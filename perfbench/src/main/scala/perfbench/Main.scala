package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes the run record for `run.py`.
  *
  * Usage: perfbench.Main --workload <bank|curation|ingest> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --tmp <dir> --cores <n>
  *   --out <file>
  *
  * Set-up is timed once, from JVM start: starting the JVM and the Spark
  * context, a new session, and a read of the workload's source tables.
  * Then passes run, one closed-loop client, until `seconds` have passed
  * (at least one pass; at least two in a traced run, so the jobs and tasks
  * of its passes can be compared). The first pass is the job as a user runs
  * it in a fresh process: code generation and JIT compilation of its plans
  * happen inside it. With `--trace 1` the benchmark's listeners are
  * registered and every pass is recorded as spans.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workload(o("workload"))
    val (dir, tmp, cores) = (o("data"), o("tmp"), o("cores").toInt)
    val trace = o("trace") == "1"
    val rng = new scala.util.Random(o("seed").toLong)

    /** A new session from the engine's builder: the first call starts
      * the Spark context, later ones reuse it. Session-scoped state (the
      * engine's memos keyed by session, listeners) starts empty.
      */
    def session(): SparkSession = {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val b = graft.GraftSession.builder("perfbench", Some(s"local[$cores]"))
        .config("spark.local.dir", s"$tmp/spark-local")
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      if (trace) Trace.install(s)
      s
    }

    val s0 = session()
    val sourceRows = wl.sources.map(t => t -> s0.read.parquet(s"$dir/$t.parquet").count()).toMap
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val in = Inputs(dir, tmp, sourceRows, rng)
    Trace.on = trace

    // Every pass gets its own session and clears Spark's cache at its end,
    // so no pass reuses what an earlier one cached or memoized: each does
    // the same work, and a traced run of several passes shows its jobs and
    // tasks repeat.
    var spark: SparkSession = null
    val t0 = System.nanoTime()
    do {
      spark = session()
      val t = System.nanoTime()
      val rec = Trace.span("pass")(wl.pass(spark, in))
      Record.passes += rec ++ Map("pass" -> Record.pass, "wall_ms" -> Workload.elapsedMs(t))
      Record.pass += 1
    } while ((System.nanoTime() - t0) / 1e9 < o("seconds").toDouble || (trace && Record.pass < 2))
    val fsCounting = trace && Trace.fsCounting
    spark.stop()

    val spans = Trace.spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "counts" -> s.counts)
    }
    val out = Map(
      "workload" -> o("workload"), "cores" -> cores, "setup_s" -> setupS,
      "passes" -> Record.passes, "ops" -> Record.ops, "oracle" -> Record.oracle,
      "spans" -> spans, "trigger_ms" -> Trace.triggerMs, "fs_counting" -> fsCounting)
    Files.writeString(Paths.get(o("out")), Json(out))
  }
}
