package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.OracleSafe

/** FIELD-ID schema evolution on the manifest table — the piece q225's
  * `mergeSchema` read cannot give: name-based schema union handles ADDED
  * columns but mis-handles RENAMES (the renamed column reads as a
  * drop+add, old rows wrongly null) and RESURRECTS dropped-then-re-added
  * columns (a new column that reuses an old name silently inherits the
  * dead column's values from old files). Iceberg solves both by keying
  * every column to an immutable numeric FIELD ID and recording each
  * snapshot's id→physical-name mapping in table metadata; this is that
  * mechanism on the [[ManifestTable]] commit protocol.
  *
  * Layout under `tableDir` (beside `data/` and `CURRENT`):
  * {{{
  *   smanifest/v<N>   "fieldId\tphysicalName" lines — the schema AS OF v<N>;
  *                    data/v<N>'s files are written under exactly these names
  * }}}
  *
  * Evolution is pure metadata: a RENAME keeps the id and changes the
  * name; a DROP removes the id from the head mapping (old files still
  * carry the column — the reader just never selects it); an ADD mints a
  * fresh id, so files written before it map nothing to the new id and
  * read NULL even if they happen to carry a same-named dead column.
  *
  * Scale: commits append one batch dir + one tiny metadata file; the
  * head read is one per-version projection (alias/cast/null-fill —
  * all codegen'd, zero shuffle) unioned across committed versions, the
  * same splice [[ManifestTable.readPartitionedMoR]] does, and compaction
  * (not repeated here — q309/q329 own it) bounds the version count.
  */
object FieldIdTable {

  /** The id→name mapping as of `version`, in declared column order. */
  def readSchemaManifest(spark: SparkSession, tableDir: String,
      version: Long): Seq[(Int, String)] =
    ManifestTable.readFully(ManifestTable.fc(spark, tableDir),
        new Path(s"$tableDir/smanifest/v$version"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(id, name) = line.split("\t")
        id.toInt -> name
      }.toSeq

  def schemaManifestVersions(spark: SparkSession,
      tableDir: String): Seq[Long] =
    ManifestTable.listVersions(spark, tableDir, "smanifest")

  /** Commit one batch under an explicit field mapping. `df`'s columns
    * must be exactly the mapping's names — the files ARE the physical
    * truth the mapping describes. Data first, metadata put-if-absent,
    * pointer swap last (the q241 protocol).
    */
  def appendWithSchema(df: DataFrame, tableDir: String, version: Long,
      fields: Seq[(Int, String)]): Unit = {
    require(df.columns.toSeq == fields.map(_._2),
      s"batch columns ${df.columns.toSeq} must match mapping ${fields.map(_._2)}")
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite).parquet(s"$tableDir/data/v$version")
    val body = fields.map { case (id, n) => s"$id\t$n" }
      .mkString("", "\n", "\n")
    require(ManifestTable.putIfAbsent(spark,
        new Path(s"$tableDir/smanifest/v$version"), body),
      s"schema manifest for v$version already exists")
    ManifestTable.swapPointer(spark, tableDir, version)
  }

  /** Read the snapshot at `version` under ITS schema: every committed
    * batch ≤ `version` is projected to the head mapping BY FIELD ID —
    * renamed columns resolve to their old physical name, fields the
    * batch predates null-fill, and columns whose id is absent from the
    * head (dropped, or dead under a re-minted id) are never selected,
    * whatever names the old files carry.
    */
  def readFieldTable(spark: SparkSession, tableDir: String,
      version: Long): DataFrame = {
    val head = readSchemaManifest(spark, tableDir, version)
    val headTypes = spark.read.parquet(s"$tableDir/data/v$version")
      .schema.map(f => f.name -> f.dataType).toMap
    schemaManifestVersions(spark, tableDir).filter(_ <= version).map { v =>
      val m = readSchemaManifest(spark, tableDir, v).toMap
      val projected: Seq[Column] = head.map { case (id, name) =>
        m.get(id) match {
          case Some(oldName) =>
            col(oldName).cast(headTypes(name)).alias(name)
          case None => lit(null).cast(headTypes(name)).alias(name)
        }
      }
      spark.read.parquet(s"$tableDir/data/v$v").select(projected: _*)
    }.reduce(_ unionByName _)
  }

  /** q332 — rename-safe, resurrection-safe evolution end to end. Three
    * batches of the events table (split on `event_id % 3`) land under
    * three schema generations:
    *
    *   - v1 (ids 1,2,3 = `event_id`,`etype`,`val_cents`): original names.
    *   - v2: RENAME etype→event_type, val_cents→cents (ids 2,3 kept) and
    *     ADD `channel` as id 4 (`event_type||'_'||event_id%10`).
    *   - v3: DROP id 4 and RE-ADD `channel` as id 5 — same NAME, new id,
    *     new derivation (`'c'||event_id%7`).
    *
    * The `a_renamed` stage reads at v2: v1's rows surface under the NEW
    * names (rename safety — a mergeSchema read would null them) and
    * channel values come only from the v2 batch. The `b_readded` stage
    * reads at v3: channel values come ONLY from the v3 batch — v2's
    * files still physically carry a `channel` column, but its id is
    * dead, so it must NOT resurrect (name-based matching would leak it).
    * The oracle recomputes both stages from raw events.
    */
  def fieldIdEvolution(events: DataFrame, tableDir: String): DataFrame = {
    val spark = events.sparkSession
    val slim = events.select(col("event_id"), col("event_type"),
      OracleSafe.quant(col("value"), 100).as("cents"))
    val b1 = slim.filter(pmod(col("event_id"), lit(3)) === 0)
      .select(col("event_id"), col("event_type").as("etype"),
        col("cents").as("val_cents"))
    appendWithSchema(b1, tableDir, 1L,
      Seq(1 -> "event_id", 2 -> "etype", 3 -> "val_cents"))
    val b2 = slim.filter(pmod(col("event_id"), lit(3)) === 1)
      .withColumn("channel", concat(col("event_type"), lit("_"),
        pmod(col("event_id"), lit(10)).cast("string")))
    appendWithSchema(b2, tableDir, 2L,
      Seq(1 -> "event_id", 2 -> "event_type", 3 -> "cents",
        4 -> "channel"))
    def stage(name: String, v: Long): DataFrame =
      readFieldTable(spark, tableDir, v)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
          count(col("channel")).as("n_channel"),
          countDistinct(col("channel")).as("n_channel_vals"))
        .select(lit(name).as("stage"), col("event_type"), col("n"),
          col("total_cents"), col("n_channel"), col("n_channel_vals"))
    val s1 = stage("a_renamed", 2L)
    val b3 = slim.filter(pmod(col("event_id"), lit(3)) === 2)
      .withColumn("channel", concat(lit("c"),
        pmod(col("event_id"), lit(7)).cast("string")))
    appendWithSchema(b3, tableDir, 3L,
      Seq(1 -> "event_id", 2 -> "event_type", 3 -> "cents",
        5 -> "channel"))
    val s2 = stage("b_readded", 3L)
    s1.unionByName(s2).orderBy("stage", "event_type")
  }

  /** DuckDB twin of [[fieldIdEvolution]]: stage a covers `event_id%3 IN
    * (0,1)` with channel only on the `%3=1` rows; stage b covers all
    * rows with channel only on the `%3=2` rows (the re-minted id — v2's
    * physical channel column must NOT leak in). Embed after `WITH ` and
    * select from `field_id_evolution`.
    */
  def fieldIdEvolutionSql(): String =
    s"""fie AS (
       |  SELECT event_id, event_type,
       |         ${OracleSafe.quantSql("value", 100)} AS cents
       |  FROM events),
       |fie_a AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents,
       |         COUNT(CASE WHEN event_id % 3 = 1 THEN 1 END) AS n_channel,
       |         COUNT(DISTINCT CASE WHEN event_id % 3 = 1
       |           THEN event_type || '_' || CAST(event_id % 10 AS VARCHAR)
       |           END) AS n_channel_vals
       |  FROM fie WHERE event_id % 3 IN (0, 1) GROUP BY 1),
       |fie_b AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS total_cents,
       |         COUNT(CASE WHEN event_id % 3 = 2 THEN 1 END) AS n_channel,
       |         COUNT(DISTINCT CASE WHEN event_id % 3 = 2
       |           THEN 'c' || CAST(event_id % 7 AS VARCHAR)
       |           END) AS n_channel_vals
       |  FROM fie GROUP BY 1),
       |field_id_evolution AS (
       |  SELECT 'a_renamed' AS stage, event_type, n, total_cents,
       |         n_channel, n_channel_vals
       |  FROM fie_a
       |  UNION ALL
       |  SELECT 'b_readded', event_type, n, total_cents, n_channel,
       |         n_channel_vals
       |  FROM fie_b)""".stripMargin
}
