package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.OracleSafe._

/** One engine query, declared once: its `name` (`q<id>_<shape>`), whether
  * `graft.ScaleBench` measures it at 10× (`scale`), its `build` function
  * over a session and a testdata dir, and the DuckDB SQL whose result it
  * must equal (`oracle`). [[graft.SparkEntry]] derives its query maps
  * from these records, `graft.Bench` its floor-dominated set and
  * `graft.ScaleBench` its measured list.
  *
  * A query is declared in exactly one family object, by this rule:
  *  - a query that starts a Structured Streaming query is [[Streaming]];
  *  - otherwise a query that writes files (a table version, an index, a
  *    warehouse or scratch copy) is in [[Writers]];
  *  - the rest split by input tables: a query reading `documents` or
  *    `embeddings` is in [[Compute]] (dedup, ANN, text), every other one
  *    in [[StarSchema]] (the bank star schema, the TPC-H shapes and the
  *    event analytics).
  *
  * To add a query, append one record to its family's `queries`.
  */
final case class Query(name: String, scale: Boolean,
    build: (SparkSession, String) => DataFrame, oracle: String)

object Query {

  /** Temp dir for the sink/dedup queries that write real files per
    * invocation — see [[graft.Scratch]]: deleted at JVM exit, and each
    * re-invocation of the same query frees its predecessor's copy, so
    * bench reps and scale runs keep disk flat instead of accumulating
    * a warehouse copy per rep.
    */
  private[queries] def scratchDir(prefix: String): java.nio.file.Path =
    graft.Scratch.dir(prefix)

  /** Shared oracle for the batch (q81) and streaming (q82) sliding-window
    * paths: each event is replicated to its size/slide = 2 covering
    * window starts.
    */
  private[queries] val slidingWindowOracle: String =
    s"""SELECT (epoch_ms(ts) // 3600000 - k) * 3600000 AS start_ms, event_type,
               COUNT(*) AS n,
               ${moneyOutSql(s"CAST(SUM(${moneySql("value")}) AS DECIMAL(18,2))")} AS total_value
        FROM events, (SELECT unnest(generate_series(0, 1)) AS k)
        GROUP BY 1, 2
        ORDER BY 1, 2"""
}
