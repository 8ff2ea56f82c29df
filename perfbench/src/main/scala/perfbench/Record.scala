package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Everything a run produces for `run.py`: timed operations with their
  * output checks, the oracle SQL those checks name, and per-pass records.
  * Correctness is decided afterwards by `oracle.py`, outside the timed code.
  */
object Record {
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val oracle = mutable.LinkedHashMap.empty[String, String]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  var pass = 0

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs one client operation; an exception is recorded as a failed
    * operation and the pass goes on. `check` turns the result into the
    * fields `oracle.py` verifies.
    */
  def op[T](name: String, kind: String)(body: => T)(check: T => Map[String, Any]): Option[T] = {
    val t0 = System.nanoTime()
    val base = Map[String, Any]("pass" -> pass, "name" -> name, "kind" -> kind)
    try {
      // output checks get their own span, so per-pass counts can leave them out
      val r = if (kind == "check") Trace.span(s"check.$name")(body) else body
      ops += base ++ Map("ms" -> ms(t0)) ++ check(r)
      Some(r)
    } catch {
      case e: Throwable =>
        ops += base ++ Map("ms" -> ms(t0), "error" -> s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Check fields comparing `rows` against the DuckDB answer of `sql`. */
  def oracleCheck(key: String, sql: String, schema: StructType, rows: Array[Row]): Map[String, Any] = {
    oracle.getOrElseUpdate(key, sql)
    val d = Digest.of(schema, rows)
    Map("oracle" -> key, "cols" -> d.cols, "rows" -> d.rows, "digest" -> d.sum)
  }

  def assertCheck(ok: Boolean, detail: String): Map[String, Any] =
    Map("assert" -> ok, "detail" -> detail)

  /** Build (span `plans.build`) then collect inside span `spanName`. */
  def collect(spanName: String)(build: => DataFrame): (StructType, Array[Row]) =
    Trace.span(spanName) {
      val df = Trace.span("plans.build")(build)
      (df.schema, df.collect())
    }

  /** For a call that does its work when called: one span for call and collect. */
  def collectEager(spanName: String)(call: => DataFrame): (StructType, Array[Row]) =
    Trace.span(spanName) {
      val df = call
      (df.schema, df.collect())
    }

  val violationSchema: StructType = StructType(Seq(
    StructField("check_name", StringType), StructField("violations", LongType)))
}

/** Minimal JSON writer for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
