package graft

import graft.operators.{BankEtl, DataQuality, WarehouseSink}

/** End-to-end ETL entry point — the engine's equivalent of the reference's
  * `python etl.py` run (`README.md:118-124` there): read → clean → build
  * star schema → validate constraints → persist.
  *
  * Usage: Pipeline <sfDir> <outDir>
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Pipeline <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-pipeline")
    val t0 = System.nanoTime()

    val w = BankEtl.build(spark, sfDir, cache = true)
    val checks = DataQuality.warehouseChecks(w)
    checks.foreach(v => println(f"[dq] ${v.check}%-32s ${v.count}"))
    require(checks.forall(_.count == 0), "constraint violations — aborting load")

    WarehouseSink.write(w, outDir)
    graft.charts.SvgCharts.renderDashboards(w, s"$outDir/charts")
      .foreach(p => println(s"[pipeline] chart → $p"))

    // count the WRITTEN parquet (metadata-only) rather than recomputing DAGs
    def n(t: String): Long = spark.read.parquet(s"$outDir/$t").count()
    println(s"[pipeline] Dim_Date=${n("Dim_Date")} Dim_Customer=${n("Dim_Customer")} " +
      s"Dim_Account=${n("Dim_Account")} Dim_Merchant=${n("Dim_Merchant")} " +
      s"Dim_Location=${n("Dim_Location")} Fact_Spending=${n("Fact_Spending")}")
    println(f"[pipeline] done in ${(System.nanoTime() - t0) / 1e9}%.1f s → $outDir")
    spark.stop()
  }
}
