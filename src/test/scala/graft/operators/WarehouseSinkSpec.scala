package graft.operators

import java.nio.file.Files

import graft.SparkSpec

class WarehouseSinkSpec extends SparkSpec {

  test("S4: warehouse writes round-trip; fact is partitioned by year-month") {
    val out = Files.createTempDirectory("wh").toString
    val w = BankEtl.buildCached(spark, sf)
    WarehouseSink.write(w, out)

    val factBack = spark.read.parquet(s"$out/Fact_Spending")
    assert(factBack.count() == w.fact.count())
    // partition pruning surface: ym=yyyyMM directories exist
    val partDirs = new java.io.File(s"$out/Fact_Spending").listFiles()
      .filter(_.getName.startsWith("ym="))
    assert(partDirs.length > 1)

    val dimBack = spark.read.parquet(s"$out/Dim_Merchant")
    assert(dimBack.count() == w.dimMerchant.count())
  }

  test("compaction collapses a fragmented dataset without changing the data") {
    val dir = Files.createTempDirectory("compact").resolve("t").toString
    val df = graft.sources.TestData.events(spark, sf)
    df.repartition(16).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 16)
    val expected = df.count()
    WarehouseSink.compact(spark, dir, targetBytes = 1L << 30) // everything fits one file
    assert(parquetFiles == 1, "compaction must bin-pack to the target size")
    assert(spark.read.parquet(dir).count() == expected, "no rows lost")
    // the rename-aside swap cleans up after itself: no _compacting/_old
    // siblings survive a successful compaction
    assert(!new java.io.File(dir + "_compacting").exists())
    assert(!new java.io.File(dir + "_old").exists())
  }

  test("compaction recovers from debris a crashed prior run left behind") {
    val dir = Files.createTempDirectory("compact2").resolve("t").toString
    val df = graft.sources.TestData.nation(spark, sf)
    df.repartition(4).write.parquet(dir)
    // simulate a prior run that crashed between the renames
    df.limit(1).write.parquet(dir + "_old")
    df.limit(1).write.parquet(dir + "_compacting")
    val expected = df.count()
    WarehouseSink.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() == expected)
    assert(!new java.io.File(dir + "_old").exists())
  }

  test("compaction recovers when a crash left NO data dir, only the _old aside") {
    // the exact mid-swap state: rename(path, old) succeeded, rename(tmp,
    // path) never ran — dir is absent, the complete original sits at _old
    val dir = Files.createTempDirectory("compact3").resolve("t").toString
    val df = graft.sources.TestData.nation(spark, sf)
    df.repartition(4).write.parquet(dir + "_old")
    df.limit(1).write.parquet(dir + "_compacting")
    val expected = df.count()
    WarehouseSink.compact(spark, dir, targetBytes = 1L << 30)
    assert(spark.read.parquet(dir).count() == expected, "original restored from _old")
    assert(!new java.io.File(dir + "_old").exists())
    assert(!new java.io.File(dir + "_compacting").exists())
  }

  test("S4: JDBC write-back option plumbing and FK-safe load order") {
    import WarehouseSink.{JdbcSinkConfig, jdbcOptions, loadOrder}
    val cfg = JdbcSinkConfig("jdbc:sqlserver://wh:1433;databaseName=dw",
      batchSize = 5000, isolationLevel = "READ_UNCOMMITTED",
      numPartitions = Some(8), tablePrefix = "dbo.")

    val opts = jdbcOptions(cfg, "Fact_Spending")
    assert(opts("url") == "jdbc:sqlserver://wh:1433;databaseName=dw")
    assert(opts("dbtable") == "dbo.Fact_Spending")
    assert(opts("batchsize") == "5000")
    assert(opts("isolationLevel") == "READ_UNCOMMITTED")
    assert(opts("numPartitions") == "8")
    // defaults: no numPartitions cap unless asked
    assert(!jdbcOptions(JdbcSinkConfig("jdbc:h2:mem:x"), "Dim_Date")
      .contains("numPartitions"))

    // invalid knobs fail fast, before any connection is opened
    intercept[IllegalArgumentException] {
      jdbcOptions(cfg.copy(batchSize = 0), "Dim_Date")
    }
    intercept[IllegalArgumentException] {
      jdbcOptions(cfg.copy(isolationLevel = "SNAPSHOT"), "Dim_Date")
    }

    // dims load before the fact so FK references never dangle mid-load
    assert(loadOrder.last == "Fact_Spending")
    assert(loadOrder.init.forall(_.startsWith("Dim_")))
    assert(loadOrder.distinct.size == 6)
  }
}
