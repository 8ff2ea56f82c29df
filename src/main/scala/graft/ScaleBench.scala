package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence main: measures whether the corpus-derived dedup/ANN
  * constants (df cap, planes(n), centroids(n) — see
  * [[graft.operators.Dedup]] / [[graft.operators.Similarity]]) actually
  * bend the curve when the corpus grows 10×, which is the exact claim they
  * were built for. The harness ships no sf1 tables, so this main
  * MANUFACTURES a 10× corpus from sf0.1:
  *
  *  - documents ×10 with remapped ids and per-copy token salting (every
  *    token gets a `_c<copy>` suffix), so copies share NO shingles — the
  *    scaled corpus has 10× the rows with the same per-copy near-dup
  *    structure, instead of turning every document into a 10-way exact-dup
  *    cluster (which would measure output blowup, not scan scaling);
  *  - embeddings ×10 with remapped ids and a small deterministic per-copy
  *    offset, so copies are distinct points rather than 10-deep identical
  *    stacks in every LSH/IVF bucket.
  *
  * This synthetic blow-up exists ONLY for wall-clock measurement — the
  * correctness gate stays on the driver's own tables. Prints one JSON line
  * with per-query seconds at 1× and 10× and the ratio; a sub-quadratic
  * (ideally ≲ 10–15×) ratio on q41/q46/q53 is the pass signal, since a
  * fixed-constant design degenerates to ~100× (all-pairs terms) at 10×.
  */
object ScaleBench {

  /** The queries declared with `scale = true`, in registry order. */
  private val measured = SparkEntry.registry.filter(_.scale).map(_.name)

  private def scaleDocs(spark: SparkSession, base: String, copies: Int): DataFrame = {
    val docs = graft.sources.TestData.documents(spark, base)
    val delta = 1000000L
    docs.crossJoin(
        spark.range(copies.toLong).select(col("id").as("copy")))
      .select(
        (col("doc_id") + col("copy") * delta).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_c"), col("copy"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
  }

  private def scaleEmbeddings(spark: SparkSession, base: String, copies: Int): DataFrame = {
    val emb = graft.sources.TestData.embeddings(spark, base)
    val delta = 1000000L
    emb.crossJoin(
        spark.range(copies.toLong).select(col("id").as("copy")))
      .select(
        (col("vec_id") + col("copy") * delta).as("vec_id"),
        transform(col("embedding"),
          x => x + col("copy").cast("float") * lit(0.003f)).as("embedding"),
        col("label"))
  }

  /** ×copies blow-ups for the event/order/lineitem shapes: entity keys
    * (users, custkeys, orderkeys, suppkeys) are remapped per copy so the
    * scaled table has `copies`× the entities with the same per-entity
    * structure — attribution paths, RFM recency profiles, and basket
    * compositions are preserved per copy rather than stacked onto the
    * same keys (which would measure hot-key skew, not scan scaling).
    * `events.parquet`'s ts column passes through unchanged whatever its
    * disk encoding (nanos-long / TIMESTAMP / TIMESTAMP_NTZ) —
    * `TestData.events` re-derives ts/ts_ns from the written file's actual
    * type via `EventEncoding`.
    */
  private def scaleKeyed(spark: SparkSession, base: String, copies: Int,
      table: String, keyDeltas: Map[String, Long]): DataFrame = {
    val raw = spark.read.parquet(s"$base/$table.parquet")
    raw.crossJoin(
        spark.range(copies.toLong).select(col("id").as("copy")))
      .select(raw.columns.map { c =>
        keyDeltas.get(c) match {
          case Some(delta) => (col(c) + col("copy") * delta).as(c)
          case None => col(c)
        }
      }.toSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse("/tmp/graft-scale")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = GraftSession.local("graft-scale-bench")

    // components-only mode: (re)measure just the named deep-blow-up
    // component rows (comma list from the componentStats keys below)
    // and write BENCH_SCALE_COMPONENTS.json for tools/merge_scale.py —
    // the full-suite 1×/10× query loop is untouched, so one new
    // component row never costs a whole-suite re-run
    sys.env.get("SPARK_GRAFT_SCALE_COMPONENTS_ONLY").foreach { list =>
      val ccCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_CC_COPIES", "30").toInt
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val known = Set("curation_pipeline", "eval_report")
      val unknown = names -- known
      require(unknown.isEmpty && names.nonEmpty,
        s"unknown component names: ${unknown.toSeq.sorted.mkString(", ")}")
      val ccDir = s"$outRoot/x$ccCopies"
      if (names("curation_pipeline"))
        scaleDocs(spark, base, ccCopies).repartition(32)
          .write.mode(SaveMode.Overwrite).parquet(s"$ccDir/documents.parquet")
      if (names("eval_report"))
        scaleKeyed(spark, base, ccCopies, "events",
            Map("event_id" -> 100000000L, "user_id" -> 100000000L))
          .repartition(32)
          .write.mode(SaveMode.Overwrite).parquet(s"$ccDir/events.parquet")
      // q300 at the component depth: the composed curation DAG must stay
      // ~linear while per-stage survivor counts scale with the corpus
      def curStats(dir: String): (Double, Seq[(String, Long)], Boolean) = {
        val t0 = System.nanoTime()
        try {
          val rows = graft.operators.TextAnalysis.curationPipeline(
              graft.sources.TestData.documents(spark, dir))
            .groupBy("stage").agg(sum("n_docs").as("n")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
          ((System.nanoTime() - t0) / 1e9, rows, true)
        } catch {
          case scala.util.control.NonFatal(_) =>
            ((System.nanoTime() - t0) / 1e9, Seq.empty, false)
        }
      }
      def stagesJson(rows: Seq[(String, Long)]): String =
        rows.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      val fragments = names.toSeq.sorted.map {
        case "curation_pipeline" =>
          curStats(ccDir) // warm the first touch off the clock
          curStats(base)
          val (cs1, st1, ok1) = curStats(base)
          val (csN, stN, okN) = curStats(ccDir)
          if (ok1 && okN)
            f""""curation_pipeline":{"x1_sec":$cs1%.3f,""" +
              s""""x1_stages":${stagesJson(st1)},""" +
              f""""x$ccCopies%d_sec":$csN%.3f,""" +
              s""""x${ccCopies}_stages":${stagesJson(stN)},""" +
              f""""ratio":${csN / math.max(cs1, 1e-9)}%.2f}"""
          else s""""curation_pipeline":{"failed":true}"""
        // q314 at the component depth: the one-pass report must stay
        // ~linear (one scan to the bounded grain) while per-class row
        // counts scale with the corpus — the eval analog of the q300 row
        case "eval_report" =>
          def repStats(dir: String): (Double, Seq[(String, Long)], Boolean) = {
            val t0 = System.nanoTime()
            try {
              val rows = graft.operators.Events.evalReport(
                  graft.sources.TestData.events(spark, dir))
                .select("cls", "n").collect()
                .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
              ((System.nanoTime() - t0) / 1e9, rows, true)
            } catch {
              case scala.util.control.NonFatal(_) =>
                ((System.nanoTime() - t0) / 1e9, Seq.empty, false)
            }
          }
          repStats(ccDir) // warm the first touch off the clock
          repStats(base)
          val (rs1, rc1, rok1) = repStats(base)
          val (rsN, rcN, rokN) = repStats(ccDir)
          if (rok1 && rokN)
            f""""eval_report":{"x1_sec":$rs1%.3f,""" +
              s""""x1_class_n":${stagesJson(rc1)},""" +
              f""""x$ccCopies%d_sec":$rsN%.3f,""" +
              s""""x${ccCopies}_class_n":${stagesJson(rcN)},""" +
              f""""ratio":${rsN / math.max(rs1, 1e-9)}%.2f}"""
          else s""""eval_report":{"failed":true}"""
      }
      val json = s"""{"metric":"scale_components_partial",""" +
        s""""copies":$ccCopies,"base":"$base",""" +
        s""""components":{${fragments.mkString(",")}}}"""
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SCALE_COMPONENTS.json"),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () }
      println(json)
      spark.stop()
      return
    }

    val scaledDir = s"$outRoot/x$copies"
    scaleDocs(spark, base, copies).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/documents.parquet")
    scaleEmbeddings(spark, base, copies).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/embeddings.parquet")
    val wideDelta = 100000000L
    // The CUSTOMER keyspace delta is the base table's key count, NOT the
    // wide 1e8 offset: base c_custkey is dense 0-based (verified in the
    // testdata), so offsetting copy i by i·|customer| keeps the scaled
    // keyspace dense 0-based too. q271's recursive closure defines its
    // hierarchy as the DIV-2 heap forest over that keyspace — a gapped
    // offset orphans every non-copy-0 node's parent and the closure's
    // coverage guard now fails loudly; a dense offset scales the FOREST
    // (10× nodes, depth +log₂10) instead of emptying it. FK integrity is
    // unchanged as long as o_custkey shifts by the SAME delta.
    val custDelta = spark.read.parquet(s"$base/customer.parquet").count()
    scaleKeyed(spark, base, copies, "events",
        Map("event_id" -> wideDelta, "user_id" -> wideDelta))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/events.parquet")
    scaleKeyed(spark, base, copies, "orders",
        Map("o_orderkey" -> wideDelta, "o_custkey" -> custDelta))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/orders.parquet")
    scaleKeyed(spark, base, copies, "lineitem",
        Map("l_orderkey" -> wideDelta, "l_suppkey" -> wideDelta))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/lineitem.parquet")
    // customer scales with the SAME key delta as orders.o_custkey, so each
    // order copy still belongs to its customer copy (per-customer order
    // history preserved at 10×); nation is a fixed dimension — copied
    // through unscaled so q149's 25-row broadcast claim is what's measured
    scaleKeyed(spark, base, copies, "customer", Map("c_custkey" -> custDelta))
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/customer.parquet")
    // fixed dimensions copied through unscaled (q163 reads all 10 tables)
    for (dim <- Seq("nation", "region", "supplier", "part"))
      spark.read.parquet(s"$base/$dim.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$scaledDir/$dim.parquet")

    // optional comma-separated subset for targeted (re-)measures — a
    // filtered run writes BENCH_SCALE_PARTIAL.json (merged into the main
    // artifact by tools/merge_scale.py), never the full-suite file
    val onlyEnv = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val measuredRun = onlyEnv match {
      case Some(names) =>
        // a typo'd name must fail LOUDLY: a silently-dropped filter would
        // run nothing, write an empty partial artifact, and merge_scale.py
        // would merge the no-op as if the re-measure succeeded
        val unknown = names -- measured.toSet
        require(unknown.isEmpty, "SPARK_GRAFT_SCALE_ONLY names not in the " +
          s"measured list: ${unknown.toSeq.sorted.mkString(", ")}")
        require(names.nonEmpty, "SPARK_GRAFT_SCALE_ONLY is set but empty")
        measured.filter(names)
      case None => measured
    }

    // JIT/codegen warm-up on the smallest SF, same as Bench
    measuredRun.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    // a failed query must NOT masquerade as a plausible timing — record
    // the failure so the scaling artifact can't silently report success.
    //
    // COLD vs WARM, separated: the first run of whichever query touches a
    // corpus first pays the shared shingle/index materialization for the
    // whole tier — in a single-run harness that cost lands on an
    // arbitrary query and the per-query "ratios" become a lottery
    // (observed swings: the same query 15×..120× between identical-code
    // runs). So each query runs 3×: `cold` = first run (materialization
    // included, attributed honestly to whoever paid it), `warm` = MIN
    // of the remaining runs (steady-state per-query work). The scale
    // RATIO compares warm against warm — that is the per-query claim the
    // design makes; the cold columns document the one-time build cost.
    // MEASURED floor attribution (suite-wide): streaming/table-write
    // queries pay a fixed cost per micro-batch trigger and per manifest
    // commit, invariant in data size — their scale ratios track the
    // FLOOR COUNT, not per-row work (q316 at 10× pays 32 trigger floors
    // over the 32-part scaled table → ratio ≈ 4 from floors alone,
    // while the chunk-staged streams pay the same 3–6 floors at every
    // scale → ratio ≈ 1 regardless of data). Counting both beside every
    // floor-shaped row makes the artifact self-explaining: a constant
    // floor count with a flat ratio is the fixed-floor signature; a
    // floor count growing with scale explains the ratio structurally.
    // Triggers are counted by a StreamingQueryListener (one progress
    // event per micro-batch); commits by the swapPointer counter every
    // table commit path funnels through. Both are read after the run —
    // the listener bus is async, so a short drain wait bounds the lag.
    val triggerCounter = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit =
          triggerCounter.incrementAndGet()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = ()
      })
    def floorSnapshot(): (Long, Long) =
      (triggerCounter.get(), graft.operators.ManifestTable.commitsSoFar)

    def time(dir: String):
        Seq[(String, (Double, Double, Boolean, Long, Long))] =
      measuredRun.map { name =>
        val runs = Seq.fill(3) {
          val before = floorSnapshot()
          val t0 = System.nanoTime()
          val ok = try { SparkEntry.queries(name)(spark, dir).count(); true }
            catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          if (Bench.FloorDominated(name)) Thread.sleep(150) // listener drain
          val after = floorSnapshot()
          (sec, ok, after._1 - before._1, after._2 - before._2)
        }
        // min, not median: this box shows multi-second noise excursions
        // under sustained load, and noise is strictly additive — the MIN of
        // the post-cold runs is the cleanest steady-state observable
        val warm = runs.tail.map(_._1).min
        // floors from the LAST run: per-run floor counts are structural
        // (chunks × replays, versions committed) and identical across reps
        name -> ((runs.head._1, warm, runs.forall(_._2),
          runs.last._3, runs.last._4))
      }

    val at1x = time(base).toMap
    val at10x = time(scaledDir).toMap
    val entries = measuredRun.map { name =>
      val ((c1, s1, ok1, t1, m1), (c10, s10, ok10, t10, m10)) =
        (at1x(name), at10x(name))
      if (ok1 && ok10) {
        val r = s10 / math.max(s1, 1e-9)
        val floors = if (Bench.FloorDominated(name))
          s""","x1_triggers":$t1,"x1_commits":$m1""" +
            s""","x${copies}_triggers":$t10,"x${copies}_commits":$m10"""
        else ""
        f""""$name":{"x1_cold_sec":$c1%.3f,"x1_sec":$s1%.3f,""" +
          f""""x$copies%d_cold_sec":$c10%.3f,"x$copies%d_sec":$s10%.3f,"ratio":$r%.2f""" +
          s"""$floors}"""
      } else
        s""""$name":{"failed":true,"x1_ok":$ok1,"x${copies}_ok":$ok10}"""
    }

    if (onlyEnv.isDefined) {
      val json = s"""{"metric":"scale_ratio_partial","copies":$copies,""" +
        s""""base":"$base","queries":{${entries.mkString(",")}}}"""
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SCALE_PARTIAL.json"),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () }
      println(json)
      spark.stop()
      return
    }

    // Component-loop evidence at a DEEPER blow-up (default 30×): the
    // O(diameter) claim says propagation ROUNDS track near-dup family
    // shape, not corpus size — per-copy token salting preserves the shape,
    // so rounds at 30× must equal rounds at 1× while wall-time stays
    // ~linear. Reported per corpus: seconds, rounds, cluster count.
    val ccCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_CC_COPIES", "30").toInt
    val ccDir = s"$outRoot/x$ccCopies"
    scaleDocs(spark, base, ccCopies).repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(s"$ccDir/documents.parquet")
    def ccStats(dir: String): (Double, Int, Long, Boolean) = {
      val t0 = System.nanoTime()
      try {
        val (labels, rounds) = graft.operators.Dedup.dedupClustersWithRounds(
          graft.sources.TestData.documents(spark, dir))
        val n = labels.count()
        ((System.nanoTime() - t0) / 1e9, rounds, n, true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          ((System.nanoTime() - t0) / 1e9, -1, -1L, false)
      }
    }
    // warm the 30× corpus before timing: the 10× loop above already
    // warmed `base`, so timing a first-touch 30× run against a warm 1× run
    // would mix warm-up effects into the scale ratio
    ccStats(ccDir)
    val (cs1, cr1, cn1, cok1) = ccStats(base)
    val (csN, crN, cnN, cokN) = ccStats(ccDir)
    val ccJson = if (cok1 && cokN)
      f""""dedup_clusters":{"x1_sec":$cs1%.3f,"x1_rounds":$cr1,"x1_vertices":$cn1,""" +
        f""""x$ccCopies%d_sec":$csN%.3f,"x$ccCopies%d_rounds":$crN,""" +
        f""""x$ccCopies%d_vertices":$cnN,"ratio":${csN / math.max(cs1, 1e-9)}%.2f}"""
    else s""""dedup_clusters":{"failed":true,"x1_ok":$cok1,"x${ccCopies}_ok":$cokN}"""

    // simhash band-join at the same depth: pair COUNT must scale with
    // copies (per-copy structure is preserved), never quadratically
    def shStats(dir: String): (Double, Long, Boolean) = {
      val t0 = System.nanoTime()
      try {
        val n = SparkEntry.queries("q80_simhash_pairs")(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, n, true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          ((System.nanoTime() - t0) / 1e9, -1L, false)
      }
    }
    shStats(ccDir) // warm, as above
    val (hs1, hn1, hok1) = shStats(base)
    val (hsN, hnN, hokN) = shStats(ccDir)
    val shJson = if (hok1 && hokN)
      f""""simhash_pairs":{"x1_sec":$hs1%.3f,"x1_pairs":$hn1,""" +
        f""""x$ccCopies%d_sec":$hsN%.3f,"x$ccCopies%d_pairs":$hnN,""" +
        f""""ratio":${hsN / math.max(hs1, 1e-9)}%.2f}"""
    else s""""simhash_pairs":{"failed":true,"x1_ok":$hok1,"x${ccCopies}_ok":$hokN}"""

    // q300 curation pipeline at the same depth: the composed DAG (dedup
    // -> quality -> decontamination -> quota) must stay ~linear while
    // the per-stage survivor counts scale with the corpus
    def curStats(dir: String): (Double, Seq[(String, Long)], Boolean) = {
      val t0 = System.nanoTime()
      try {
        val rows = graft.operators.TextAnalysis.curationPipeline(
            graft.sources.TestData.documents(spark, dir))
          .groupBy("stage").agg(sum("n_docs").as("n")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
        ((System.nanoTime() - t0) / 1e9, rows, true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          ((System.nanoTime() - t0) / 1e9, Seq.empty, false)
      }
    }
    def curStagesJson(rows: Seq[(String, Long)]): String =
      rows.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    curStats(ccDir) // warm, as above
    val (cu1, cst1, cuok1) = curStats(base)
    val (cuN, cstN, cuokN) = curStats(ccDir)
    val curJson = if (cuok1 && cuokN)
      f""""curation_pipeline":{"x1_sec":$cu1%.3f,""" +
        s""""x1_stages":${curStagesJson(cst1)},""" +
        f""""x$ccCopies%d_sec":$cuN%.3f,""" +
        s""""x${ccCopies}_stages":${curStagesJson(cstN)},""" +
        f""""ratio":${cuN / math.max(cu1, 1e-9)}%.2f}"""
    else s""""curation_pipeline":{"failed":true,"x1_ok":$cuok1,"x${ccCopies}_ok":$cuokN}"""

    // q328 curated cluster split at the same depth: the pipeline's
    // cluster-keyed split must stay leakage-free (leaky_clusters = 0,
    // the structural claim) at 30× the component count, and the split
    // sizes must scale with the survivors
    def splStats(dir: String): (Double, Long, Long, Long, Boolean) = {
      val t0 = System.nanoTime()
      try {
        val rows = graft.operators.Sampling.curatedClusterSplit(
            graft.sources.TestData.documents(spark, dir))
          .agg(sum("n_docs").as("docs"), max("n_clusters").as("cl"),
            max("leaky_clusters").as("leaky")).head()
        ((System.nanoTime() - t0) / 1e9, rows.getLong(0), rows.getLong(1),
          rows.getLong(2), true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          ((System.nanoTime() - t0) / 1e9, -1L, -1L, -1L, false)
      }
    }
    splStats(ccDir) // warm, as above
    val (sp1, spd1, spc1, spl1, spok1) = splStats(base)
    val (spN, spdN, spcN, splN, spokN) = splStats(ccDir)
    val splJson = if (spok1 && spokN)
      f""""curated_cluster_split":{"x1_sec":$sp1%.3f,"x1_docs":$spd1,""" +
        s""""x1_clusters":$spc1,"x1_leaky":$spl1,""" +
        f""""x$ccCopies%d_sec":$spN%.3f,"x$ccCopies%d_docs":$spdN,""" +
        s""""x${ccCopies}_clusters":$spcN,"x${ccCopies}_leaky":$splN,""" +
        f""""ratio":${spN / math.max(sp1, 1e-9)}%.2f}"""
    else s""""curated_cluster_split":{"failed":true,"x1_ok":$spok1,"x${ccCopies}_ok":$spokN}"""

    // q141 cardinality breakdown at 1×/10×/30×: the verify step costs
    // candidates × document length, so the scale question is whether wall
    // growth is CANDIDATE-bound (data-inherent: more qualifying pairs) or
    // a plan degradation. Reported per corpus: candidate pairs before and
    // after the PPJoin positional filter (= rows entering the array
    // verify), final result pairs, and the wall for the instrumented
    // pass. The x30 corpus has documents only — exactly what q141 reads.
    def pjStats(dir: String): (Double, Long, Long, Long, Boolean) = {
      val t0 = System.nanoTime()
      try {
        val docs = graft.sources.TestData.documents(spark, dir)
        val loose = graft.operators.Dedup
          .prefixJaccardCandidates(docs, positional = false).count()
        val tight = graft.operators.Dedup
          .prefixJaccardCandidates(docs, positional = true).count()
        val res = SparkEntry.queries("q141_prefix_join")(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, loose, tight, res, true)
      } catch {
        case scala.util.control.NonFatal(_) =>
          ((System.nanoTime() - t0) / 1e9, -1L, -1L, -1L, false)
      }
    }
    pjStats(base) // warm (the 10x loop warmed base queries, not the loose-candidate plan)
    val pjJson = Seq(("x1", base), (s"x$copies", scaledDir), (s"x$ccCopies", ccDir))
      .map { case (tag, dir) =>
        val (sec, loose, tight, res, ok) = pjStats(dir)
        if (ok)
          f""""$tag":{"sec":$sec%.3f,"candidates_prefilter":$loose,""" +
            f""""verify_rows":$tight,"result_pairs":$res}"""
        else s""""$tag":{"failed":true}"""
      }.mkString(",")

    val json = s"""{"metric":"scale_ratio","copies":$copies,"base":"$base",""" +
      s""""queries":{${entries.mkString(",")}},""" +
      s""""components":{"copies":$ccCopies,$ccJson,$shJson,$curJson,$splJson},""" +
      s""""prefix_join_cardinality":{$pjJson}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SCALE.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
    println(json)
  }
}
