package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class SourcesSpec extends SparkSpec {

  test("CSV source: schema-enforced MCC dictionary read (S2)") {
    val dir = Files.createTempDirectory("mcc").toFile
    val f = new java.io.File(dir, "mcc.csv")
    Files.writeString(f.toPath,
      "MerchantName,Category\nBrand#1,Ăn uống & Cà phê\nBrand#2,Mua sắm\n")
    val df = CsvSource.mccMapping(spark, f.getAbsolutePath)
    assert(BankSchemas.conforms(df, BankSchemas.mccMapping))
    assert(df.count() == 2)
    assert(df.filter("MerchantName = 'Brand#1'").head().getString(1) == "Ăn uống & Cà phê")
  }

  test("adapter output conforms to the declared bank schemas (S5)") {
    import graft.operators.BankEtl
    val b = BankEtl.read(spark, sf)
    assert(BankSchemas.conforms(b.customers, BankSchemas.customers))
    assert(BankSchemas.conforms(b.accounts, BankSchemas.accounts))
    assert(BankSchemas.conforms(b.transactions, BankSchemas.transactions))
    assert(BankSchemas.conforms(b.mcc, BankSchemas.mccMapping))
  }

  test("fact output conforms to the warehouse fact schema (S5)") {
    import graft.operators.{BankEtl, DataQuality}
    val w = BankEtl.buildCached(spark, sf)
    assert(BankSchemas.conforms(w.fact, BankSchemas.factSpending))
    DataQuality.assertClean(w) // zero FK/PK violations
  }
}
