package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed re-expression of the reference's `detect_type` /
  * `typecheck` (bertrand/types/base/meta.py:1697 `detect`).
  *
  * The reference infers an element type by scanning a pandas Series.
  * At 100 TB a scan must be ONE distributed aggregation pass, never a
  * collect: for every column we compute a fixed set of counters
  * (nulls, parse successes per candidate type) in a single `agg(...)`,
  * then decide the type on the driver from those counters alone.
  */
object Detect {

  /** Content-class bitmask per value — ONE compiled byte scan for all
    * four candidate classes (graft.expressions.DetectKernel; replaced
    * four per-value `rlike` regex machines whose generated aggregate
    * dominated detection time). */
  private def mask(c: String): Column = graft.expressions.Kernels.detectClass(col(c))

  /** Per-column counters over the staged class mask. */
  private def counters(c: String): Seq[Column] = {
    val m = col(s"${c}__m")
    import graft.expressions.DetectKernel._
    Seq(
      count(m).as(s"${c}__n"),
      count(when(m.bitwiseAND(INT) > 0, 1)).as(s"${c}__int"),
      count(when(m.bitwiseAND(NUM) > 0, 1)).as(s"${c}__num"),
      count(when(m.bitwiseAND(BOOL) > 0, 1)).as(s"${c}__bool"),
      count(when(m.bitwiseAND(DATE) > 0, 1)).as(s"${c}__date"),
    )
  }

  /** Infer the element type of every column. Physical (non-string)
    * columns resolve from the Spark schema; string columns get
    * content-based inference in one aggregation pass over all columns
    * at once. Returns (column, detectedSpec) pairs in schema order. */
  def detectTypes(df: DataFrame): Seq[(String, String)] = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val stats: Map[String, Long] =
      if (stringCols.isEmpty) Map.empty
      else {
        // stage the masks as row attributes so each column's value is
        // classified once, not once per counter
        val staged = df.select(stringCols.map(c => mask(c).as(s"${c}__m")).toSeq: _*)
        val all = stringCols.flatMap(counters)
        val row = staged.agg(all.head, all.tail.toSeq: _*).head()
        row.schema.fieldNames.zipWithIndex
          .map { case (f, i) => f -> row.getLong(i) }.toMap
      }
    df.schema.fields.toSeq.map { f =>
      val spec = f.dataType match {
        case StringType =>
          val n = stats(s"${f.name}__n")
          if (n == 0L) "missing"
          else if (stats(s"${f.name}__bool") == n && stats(s"${f.name}__int") < n) "bool"
          else if (stats(s"${f.name}__int") == n) "int64"
          else if (stats(s"${f.name}__num") == n) "float64"
          else if (stats(s"${f.name}__date") == n) "datetime"
          else "string"
        case other => TypeResolver.fromSpark(other).spec
      }
      f.name -> spec
    }
  }

  /** Distributed `typecheck`: does each column satisfy the declared
    * schema spec? Schema-level (physical type comparison) plus
    * content-level for string columns (e.g. a string column declared
    * `int64` passes only if every non-null value parses as an integer).
    * Returns (column, expected, actual, ok). */
  def typecheck(df: DataFrame, schema: Seq[(String, String)]): Seq[(String, String, String, Boolean)] = {
    val detected = detectTypes(df).toMap
    schema.map { case (name, spec) =>
      val expected = TypeResolver.resolve(spec)
      val actual = detected.getOrElse(name, "missing")
      val ok = detected.contains(name) && {
        val act = TypeResolver.resolve(actual)
        expected match {
          case u: GUnion => u.admits(act) // any member admits the column
          case _ => act.spec == expected.spec || act.family == expected.family
        }
      }
      (name, expected.spec, actual, ok)
    }
  }

  /** Whole-DataFrame contract check against a STRUCTURED union spec
    * (reference meta.py:1278 — structured unions are schema contracts:
    * `df isinstance Union["foo": int, "bar": bool]`). Every contract
    * field must exist with an admitted type; DataFrame columns outside
    * the contract report as `extra` (ok — structural subtyping, like
    * the reference's per-column containment), contract fields absent
    * from the DataFrame as `missing` (not ok). Returns
    * (column, declared, actual, status, ok) in contract-then-extra
    * order. One detection pass (detectTypes' single aggregation). */
  def typecheckStruct(df: DataFrame, structSpec: String)
      : Seq[(String, String, String, String, Boolean)] = {
    val contract = TypeResolver.resolve(structSpec) match {
      case u: GStructUnion => u
      case other => throw new IllegalArgumentException(
        s"not a structured union: ${other.spec}")
    }
    val detected = detectTypes(df).toMap
    val declared = contract.fields.map { case (name, t) =>
      detected.get(name) match {
        case None => (name, t.spec, "missing", "missing", false)
        case Some(actual) =>
          val ok = contract.admits(name, TypeResolver.resolve(actual))
          (name, t.spec, actual, if (ok) "match" else "mismatch", ok)
      }
    }
    val names = contract.fields.map(_._1).toSet
    val extra = detected.toSeq.filterNot(kv => names(kv._1))
      .map { case (name, actual) => (name, "", actual, "extra", true) }
    declared ++ extra
  }
}
