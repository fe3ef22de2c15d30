package graft.formula

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The derived-attribute formula DSL (SURVEY.md §2.11).
  *
  * Grammar (reference `README.md:180-187`, applied in
  * `database/database.py:556-605`): `$N` attribute references, numeric
  * constants, `+ - * / ( )`. The reference code-generates SQL by sequential
  * string replacement (`database.py:581-583`), which corrupts `$1` inside
  * `$10`; we parse properly instead (SURVEY.md §7.4 item 2).
  *
  * Compilation target is a Catalyst [[Column]] tree over a pivoted frame
  * whose columns are named `attr_<id>` — no UDF, fully codegen'd.
  */
sealed trait FormulaAst
object FormulaAst {
  case class Ref(id: Int) extends FormulaAst
  case class Num(value: Double) extends FormulaAst
  case class BinOp(op: Char, l: FormulaAst, r: FormulaAst) extends FormulaAst
}

final case class FormulaParseException(msg: String) extends RuntimeException(msg)

object Formula {
  import FormulaAst._

  /** Recursive-descent parser with standard precedence (* / over + -),
    * left-associative, unary minus allowed. */
  def parse(formula: String): FormulaAst = {
    val s = formula
    var pos = 0
    def skipWs(): Unit = while (pos < s.length && s(pos).isWhitespace) pos += 1
    def peek: Char = if (pos < s.length) s(pos) else '\u0000'
    def fail(what: String): Nothing =
      throw FormulaParseException(s"$what at position $pos in: $formula")

    def parseExpr(): FormulaAst = {
      var left = parseTerm()
      skipWs()
      while (peek == '+' || peek == '-') {
        val op = peek; pos += 1
        val right = parseTerm()
        left = BinOp(op, left, right)
        skipWs()
      }
      left
    }
    def parseTerm(): FormulaAst = {
      var left = parseFactor()
      skipWs()
      while (peek == '*' || peek == '/') {
        val op = peek; pos += 1
        val right = parseFactor()
        left = BinOp(op, left, right)
        skipWs()
      }
      left
    }
    def parseFactor(): FormulaAst = {
      skipWs()
      peek match {
        case '(' =>
          pos += 1
          val inner = parseExpr()
          skipWs()
          if (peek != ')') fail("expected ')'")
          pos += 1
          inner
        case '-' =>
          pos += 1
          BinOp('-', Num(0d), parseFactor())
        case '$' =>
          pos += 1
          val start = pos
          while (pos < s.length && s(pos).isDigit) pos += 1
          if (pos == start) fail("expected digits after '$'")
          Ref(s.substring(start, pos).toInt)
        case c if c.isDigit || c == '.' =>
          val start = pos
          while (pos < s.length && (s(pos).isDigit || s(pos) == '.')) pos += 1
          Num(s.substring(start, pos).toDouble)
        case _ => fail("unexpected character")
      }
    }

    val ast = parseExpr()
    skipWs()
    if (pos != s.length) fail("trailing input")
    ast
  }

  /** F6 — attribute ids referenced by a formula (reference `database.py:560`
    * uses `re.findall(r'\$(\d+)')`; we walk the parsed AST). */
  def refs(formula: String): Seq[Int] = {
    def walk(a: FormulaAst): Seq[Int] = a match {
      case Ref(id) => Seq(id)
      case Num(_) => Nil
      case BinOp(_, l, r) => walk(l) ++ walk(r)
    }
    walk(parse(formula)).distinct.sorted
  }

  /** Compile to a Column over a frame with `attr_<id>` columns.
    * Division by zero RAISES (Spark 4 ANSI default, verified:
    * DIVIDE_BY_ZERO even for doubles) — which matches PostgreSQL's
    * division_by_zero behavior in the reference's generated SQL and
    * triggers (`database/database.py:579-595`). A tolerant variant would
    * swap `/` for `try_divide` (NULL on zero); we keep the
    * reference-faithful raise. */
  def compile(formula: String, colFor: Int => Column = id => col(s"attr_$id")): Column = {
    def build(a: FormulaAst): Column = a match {
      case Ref(id) => colFor(id)
      case Num(v) => lit(v)
      case BinOp('+', l, r) => build(l) + build(r)
      case BinOp('-', l, r) => build(l) - build(r)
      case BinOp('*', l, r) => build(l) * build(r)
      case BinOp('/', l, r) => build(l) / build(r)
      case BinOp(op, _, _) => throw FormulaParseException(s"unknown op $op")
    }
    build(parse(formula))
  }

  /** Pure-Scala evaluation against concrete attribute values — the
    * reference interpreter that `FormulaSpec`'s property test holds
    * [[compile]] to. Division by zero raises (ArithmeticException) to
    * match the compiled Column's ANSI behavior and PostgreSQL. */
  def eval(formula: String, values: Map[Int, Double]): Double = {
    def go(a: FormulaAst): Double = a match {
      case Ref(id) => values.getOrElse(id,
        throw FormulaParseException(s"no value for $$$id"))
      case Num(v) => v
      case BinOp('+', l, r) => go(l) + go(r)
      case BinOp('-', l, r) => go(l) - go(r)
      case BinOp('*', l, r) => go(l) * go(r)
      case BinOp('/', l, r) =>
        val d = go(r)
        if (d == 0.0) throw new ArithmeticException(s"division by zero in: $formula")
        go(l) / d
      case BinOp(op, _, _) => throw FormulaParseException(s"unknown op $op")
    }
    go(parse(formula))
  }

  /** J9 — all referenced ids must exist in the attribute catalog
    * (reference `database.py:567-577`). Distributed set-difference, no
    * driver-side id collection beyond the formula's own (tiny) ref list. */
  def validateRefs(formula: String, attributes: DataFrame): Unit = {
    val wanted = refs(formula)
    val spark = attributes.sparkSession
    import spark.implicits._
    val missing = wanted.toDF("attribute_id")
      .join(attributes.select(col("attribute_id").cast("int")), Seq("attribute_id"), "left_anti")
      .as[Int].collect()
    if (missing.nonEmpty)
      throw FormulaParseException(s"formula references missing attribute ids: ${missing.sorted.mkString(",")}")
  }

  /** J4/P10 — batch backfill of a derived attribute (reference
    * `database.py:539-605`). The reference generates one correlated scalar
    * subquery per `$K` over DISTINCT source timestamps — quadratic in PG.
    * Spark-first shape: ONE shuffle to pivot the source attributes wide on
    * timestamp, then a codegen'd projection of the compiled formula, then the
    * NULL gate (`WHERE <formula> IS NOT NULL`, inner-join semantics).
    *
    * Returns (timestamp, value) rows for `derivedId`, ready to append to the
    * archive. Scales as a single hash aggregation over only the referenced
    * attributes' rows (filter pushed to the scan).
    */
  def backfill(archive: DataFrame, formula: String, derivedId: Int): DataFrame = {
    val ids = refs(formula)
    val wide = archive
      .filter(col("attribute_id").isin(ids: _*))
      .groupBy(col("timestamp"))
      .pivot("attribute_id", ids)
      .agg(max(col("value")))
    val renamed = ids.foldLeft(wide)((df, id) => df.withColumnRenamed(id.toString, s"attr_$id"))
    renamed
      .select(col("timestamp"), compile(formula).as("value"))
      .filter(col("value").isNotNull)
      .select(lit(derivedId).as("attribute_id"), col("timestamp"), col("value"))
  }
}
