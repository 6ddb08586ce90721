package graft.types

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, floor, lit, pow}

/** The pandas `df.query()` predicate mini-language as a compiled
  * Catalyst front-end — the expression-side sibling of
  * [[TypeResolver]]'s type-spec language. A PINNED grammar (so every
  * accepted string has exactly one meaning, and the oracle can be
  * written against the same reading):
  *
  * {{{
  *   expr    := or
  *   or      := and (('or' | '|') and)*
  *   and     := unary (('and' | '&') unary)*
  *   unary   := ('not' | '~') unary | cmp
  *   cmp     := arith ( (('==' | '!=' | '<=' | '>=' | '<' | '>') arith)+
  *             | ['not'] 'in'
  *               ('(' literal (',' literal)* ')' | '@' identifier) )?
  *   arith   := mul (('+' | '-') mul)*
  *   mul     := unaryA (('*' | '/' | '//' | '%') unaryA)*
  *   unaryA  := '-' unaryA | power
  *   power   := atom ['**' unaryA]
  *   atom    := identifier | '`'backtick column'`'
  *             | '@' identifier | number | 'True' | 'False'
  *             | 'single-quoted string' | '(' expr ')'
  * }}}
  *
  * Identifiers resolve to columns, numbers to double/long literals
  * (Python typing: a '.' OR an exponent makes a float, so `1e-5` and
  * `2.5E3` are double literals; a malformed exponent like `1e` throws),
  * strings to string literals; `True`/`False` are the Python boolean
  * keywords (so a column literally named True needs backticks), and
  * pandas' BACKTICK quoting addresses columns whose names aren't
  * identifiers (`` `net price` > 10 ``) — any character except a
  * backtick, whitespace and case preserved. Python precedence throughout: `*`/`/`
  * over `+`/`-` over comparisons over `not` over `and` over `or`;
  * parens recurse to the top, so `(price / qty) > 9.5 and not (f ==
  * 'R')` reads as written. `%` is PYTHON's modulo (result takes the
  * divisor's sign for BOTH divisor signs — compiled literally as
  * `((a % b) + b) % b` over Spark's C-style remainder, so
  * `7 % -3` = -2 like Python, where `pmod` would give 1 —
  * not C/SQL remainder) at the `*`/`/` level; `//` is Python's FLOOR
  * division (`-20 // 7` = -3). Both compile to the type-adaptive
  * [[graft.expressions.PyFloorDiv]]/[[graft.expressions.PyMod]],
  * which call [[graft.expressions.PyArith]]'s (long, long) overload
  * when BOTH operands resolve to integral types — EXACT int64
  * `Math.floorDiv`/`floorMod`, Python's semantics at
  * every magnitude, including |operand| > 2^53 — and otherwise the
  * double-domain forms `floor(a / b)` / `((a fmod b) + b) fmod b`,
  * which match Python wherever the values are exactly
  * double-representable (the remaining float-path caveat, as is the
  * integer typing where Python's float `//` float stays float —
  * `//` always yields int64 here);
  * `**` is Python's power:
  * RIGHT-associative, binding tighter than unary minus on its left
  * and admitting a signed right operand (`-2**2` = -4, `2**-1` = 0.5,
  * `2**3**2` = 2**(3**2)), always evaluated in double (a documented
  * deviation from Python's int**int — Spark's `pow` is the double
  * kind). Both comparison sides are full arithmetic
  * expressions, so column-vs-column reads (`a + b > c`) are
  * first-class; CHAINED comparisons take Python's conjunction reading
  * (`1 <= x < 5` ≡ `1 <= x and x < 5` — the middle operand is parsed
  * once but the Column is SPLICED into both conjuncts, so it is
  * re-evaluated per conjunct: pointwise identical to Python for
  * deterministic expressions, which is every expression this grammar
  * can build except a nondeterministic `@env` Column splice, where
  * the two conjuncts would see independent draws), and
  * `x not in (...)` / `x not in @vals` is the negated
  * membership test.
  *
  * `~`, `&`, `|` are accepted as pandas.query's spellings of
  * not/and/or AT THOSE SAME precedence levels — a deliberate,
  * documented deviation from Python's bitwise precedence (where `&`
  * binds above comparisons and `a > 1 & b` misreads): pandas' own
  * docs direct users to parenthesize comparisons under `&`/`|`/`~`
  * precisely because the bitwise reading is never the intent; this
  * grammar gives the intended boolean reading and stays pinned.
  *
  * `@name` is pandas df.query's ENVIRONMENT reference, resolved from
  * the `env` map at PARSE time (the Scala binding of Python's local
  * scope): scalars (numbers, strings, booleans, dates/timestamps,
  * decimals) become literals, a Column splices in as-is, and an
  * Iterable is legal only as `x in @vals` (an in-list). An unbound or
  * unsupported reference throws — like the rest of the grammar,
  * env errors are API errors, never silent misreads. Because
  * resolution happens at parse time, the compiled plan is identical to
  * writing the value inline: codegen'd literals, no closure capture.
  *
  * Malformed input throws IllegalArgumentException with position
  * context — parse errors are API errors, never silent misreads. */
object PredicateParser {

  private sealed trait Tok
  private case class Ident(s: String) extends Tok
  private case class Num(s: String) extends Tok
  private case class Str(s: String) extends Tok
  private case class Op(s: String) extends Tok
  private case class Ref(s: String) extends Tok
  // backtick-quoted column name: always a column, never a keyword
  private case class BCol(s: String) extends Tok

  private val relops = Set("==", "!=", "<", "<=", ">", ">=")

  private def tokenize(in: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    def fail(msg: String) =
      throw new IllegalArgumentException(s"$msg at position $i in: $in")
    while (i < in.length) {
      val c = in(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = in.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) in.length else j
        out += Ident(in.substring(i, end)); i = end
      } else if (c.isDigit ||
        (c == '.' && i + 1 < in.length && in(i + 1).isDigit)) {
        val j = in.indexWhere(ch => !(ch.isDigit || ch == '.'), i)
        var end = if (j < 0) in.length else j
        // at most one '.': fail "1.2.3" here with position context
        // rather than as a bare NumberFormatException from toDouble
        if (in.substring(i, end).count(_ == '.') > 1)
          fail(s"malformed number '${in.substring(i, end)}'")
        // scientific notation (Python float literals: 1e-5, 2.5E3):
        // an exponent is 'e'/'E' + optional sign + >= 1 digit; an 'e'
        // NOT followed by digits is malformed (Python rejects `1e`
        // and `1everything` too — a column name can never legally
        // abut a number, so failing loudly beats a silent misread)
        if (end < in.length && (in(end) == 'e' || in(end) == 'E')) {
          var k = end + 1
          if (k < in.length && (in(k) == '+' || in(k) == '-')) k += 1
          if (k >= in.length || !in(k).isDigit)
            fail(s"malformed number '${in.substring(i, math.min(k + 1, in.length))}'")
          while (k < in.length && in(k).isDigit) k += 1
          end = k
        }
        out += Num(in.substring(i, end)); i = end
      } else if (c == '\'') {
        val end = in.indexOf('\'', i + 1)
        if (end < 0) fail("unterminated string")
        out += Str(in.substring(i + 1, end)); i = end + 1
      } else if (c == '`') {
        val end = in.indexOf('`', i + 1)
        if (end < 0) fail("unterminated backtick")
        if (end == i + 1) fail("empty backtick column name")
        out += BCol(in.substring(i + 1, end)); i = end + 1
      } else if (c == '@') {
        if (i + 1 >= in.length ||
            !(in(i + 1).isLetter || in(i + 1) == '_'))
          fail("expected identifier after '@'")
        val j = in.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i + 1)
        val end = if (j < 0) in.length else j
        out += Ref(in.substring(i + 1, end)); i = end
      } else if (i + 1 < in.length &&
        Set("==", "!=", "<=", ">=", "**", "//")
          .contains(in.substring(i, i + 2))) {
        out += Op(in.substring(i, i + 2)); i += 2
      } else if ("<>(),+-*/%&|~".contains(c)) {
        out += Op(c.toString); i += 1
      } else fail(s"unexpected character '$c'")
    }
    out.toList
  }

  /** Parse a predicate string into a Catalyst boolean Column.
    * `env` binds `@name` references (pandas df.query's local-scope
    * resolution); the no-env overload keeps every pre-existing call
    * site compiled against the one-arg shape. */
  def parse(in: String): Column = parse(in, Map.empty[String, Any])

  def parse(in: String, env: Map[String, Any]): Column = {
    var toks = tokenize(in)
    def fail(msg: String) = throw new IllegalArgumentException(
      s"$msg (remaining: ${toks.take(3).mkString(" ")}) in: $in")
    def peek: Option[Tok] = toks.headOption
    def pop(): Tok = {
      val t = toks.headOption.getOrElse(fail("unexpected end of input"))
      toks = toks.tail; t
    }
    def expectOp(s: String): Unit = pop() match {
      case Op(`s`) => ()
      case other => fail(s"expected '$s', got $other")
    }
    // Python typing: a '.' or an exponent makes a float (1e5 is a
    // float even without a dot), otherwise an int
    def isFloatLit(s: String): Boolean =
      s.exists(c => c == '.' || c == 'e' || c == 'E')
    def literal(): Column = pop() match {
      case Num(s) =>
        if (isFloatLit(s)) lit(s.toDouble) else lit(s.toLong)
      // negative literals in in-lists: `x in (-1, 2)` (property-test
      // find — the arith path handled unary minus, the list path not)
      case Op("-") => pop() match {
        case Num(s) =>
          if (isFloatLit(s)) lit(-s.toDouble) else lit(-s.toLong)
        case other => fail(s"expected number after '-', got $other")
      }
      case Str(s) => lit(s)
      case other => fail(s"expected literal, got $other")
    }
    def envValue(name: String): Any = env.getOrElse(name,
      fail(s"unbound reference '@$name' (env has: " +
        s"${env.keys.toSeq.sorted.mkString(", ")})"))
    def envScalar(name: String): Column = envValue(name) match {
      case c: Column => c
      case v @ (_: Int | _: Long | _: Short | _: Byte | _: Double |
          _: Float | _: Boolean | _: String | _: BigDecimal |
          _: java.math.BigDecimal | _: java.sql.Date |
          _: java.sql.Timestamp | _: java.time.LocalDate |
          _: java.time.Instant) => lit(v)
      case _: Iterable[_] | _: Array[_] =>
        fail(s"'@$name' is a collection — only legal as \"x in @$name\"")
      case other => fail(s"unsupported env value for '@$name': " +
        s"${other.getClass.getName}")
    }
    def envList(name: String): Seq[Any] = envValue(name) match {
      case it: Iterable[_] => it.toSeq
      case a: Array[_] => a.toSeq
      case _ => fail(s"'in @$name' needs a collection env value")
    }
    def atom(): Column = peek match {
      case Some(Op("(")) => pop(); val e = orExpr(); expectOp(")"); e
      case Some(Ident("True")) => pop(); lit(true)
      case Some(Ident("False")) => pop(); lit(false)
      case Some(Ident(s)) if s != "not" && s != "and" && s != "or" &&
        s != "in" => pop(); col(s)
      // re-quote so a dotted name stays a literal column, not a
      // struct-field path (col("a.b") would traverse)
      case Some(BCol(s)) => pop(); col("`" + s + "`")
      case Some(Ref(s)) => pop(); envScalar(s)
      case Some(Num(_)) | Some(Str(_)) => literal()
      case other => fail(s"expected operand, got $other")
    }
    // Python's power/unary tower: '**' binds tighter than unary '-'
    // on its left (-2**2 = -4) and right-associates through a signed
    // right operand (2**-1, 2**3**2 = 2**(3**2)).
    def powExpr(): Column = {
      val base = atom()
      if (peek.contains(Op("**"))) { pop(); pow(base, unaryArith()) }
      else base
    }
    def unaryArith(): Column = peek match {
      case Some(Op("-")) => pop(); -unaryArith()
      case _ => powExpr()
    }
    def mulExpr(): Column = {
      var e = unaryArith()
      while (peek.exists {
        case Op("*") | Op("/") | Op("//") | Op("%") => true
        case _ => false
      }) {
        // `//` and `%` compile to the type-adaptive
        // [[graft.expressions.PyFloorDiv]]/[[PyMod]]: EXACT int64
        // Math.floorDiv/floorMod when both operands resolve integral
        // (closing the documented >2^53 deviation from pandas' int64
        // semantics the old floor-in-double form carried), the
        // original double compositions otherwise — floor(a/b) and
        // ((a % b) + b) % b, Python's divisor-sign results for BOTH
        // divisor signs (pmod would diverge: pmod(7,-3) = 1 where
        // Python gives -2). The parser runs before resolution, so the
        // expression picks the integral or double PyArith overload
        // once its operands are resolved.
        import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
        pop() match {
          case Op("*") => e = e * unaryArith()
          case Op("/") => e = e / unaryArith()
          case Op("//") => e = column(graft.expressions.PyFloorDiv(
            expression(e), expression(unaryArith())))
          case _ => e = column(graft.expressions.PyMod(
            expression(e), expression(unaryArith())))
        }
      }
      e
    }
    def arith(): Column = {
      var e = mulExpr()
      while (peek.exists { case Op("+") | Op("-") => true; case _ => false }) {
        pop() match {
          case Op("+") => e = e + mulExpr()
          case _ => e = e - mulExpr()
        }
      }
      e
    }
    def relop(o: String, l: Column, r: Column): Column = o match {
      case "==" => l === r
      case "!=" => l =!= r
      case "<" => l < r
      case "<=" => l <= r
      case ">" => l > r
      case ">=" => l >= r
    }
    def inList(l: Column): Column = peek match {
      case Some(Ref(name)) => pop(); l.isin(envList(name): _*)
      case _ =>
        expectOp("(")
        val xs = scala.collection.mutable.ListBuffer(literal())
        while (peek.contains(Op(","))) { pop(); xs += literal() }
        expectOp(")")
        l.isin(xs.toSeq: _*)
    }
    def cmp(): Column = {
      val l = arith()
      peek match {
        case Some(Op(o)) if relops(o) =>
          // chained comparisons take Python's conjunction reading:
          // a < b < c  ≡  a < b and b < c (each operand parsed once)
          pop()
          var prev = arith()
          var acc = relop(o, l, prev)
          while (peek.exists { case Op(o2) => relops(o2); case _ => false }) {
            val Op(o2) = pop(): @unchecked
            val nxt = arith()
            acc = acc && relop(o2, prev, nxt)
            prev = nxt
          }
          acc
        case Some(Ident("in")) => pop(); inList(l)
        case Some(Ident("not")) if toks.drop(1).headOption
            .contains(Ident("in")) =>
          pop(); pop(); !inList(l)
        case _ => l
      }
    }
    def unary(): Column = peek match {
      case Some(Ident("not")) | Some(Op("~")) => pop(); !unary()
      case _ => cmp()
    }
    def andExpr(): Column = {
      var e = unary()
      while (peek.contains(Ident("and")) || peek.contains(Op("&"))) {
        pop(); e = e && unary()
      }
      e
    }
    def orExpr(): Column = {
      var e = andExpr()
      while (peek.contains(Ident("or")) || peek.contains(Op("|"))) {
        pop(); e = e || andExpr()
      }
      e
    }
    val e = orExpr()
    if (toks.nonEmpty) fail("trailing tokens")
    e
  }

  /** pandas `df.eval("c = a + b")` assignment form: a target
    * identifier, '=', then any expression of the grammar (a bare
    * arithmetic expression is a valid parse — the comparison level
    * falls through). The split point is the first '=' that is not
    * part of ==/<=/>=/!=; malformed targets throw, never misread. */
  def parseAssign(in: String): (String, Column) =
    parseAssign(in, Map.empty[String, Any])

  def parseAssign(in: String, env: Map[String, Any]): (String, Column) = {
    var i = 0
    var split = -1
    while (i < in.length && split < 0) {
      if (in(i) == '=' &&
          (i + 1 >= in.length || in(i + 1) != '=') &&
          (i == 0 || !"<>!=".contains(in(i - 1)))) split = i
      i += 1
    }
    if (split < 0) throw new IllegalArgumentException(
      s"expected 'name = expression' in: $in")
    val name = in.substring(0, split).trim
    if (name.isEmpty || !(name.head.isLetter || name.head == '_') ||
        !name.forall(c => c.isLetterOrDigit || c == '_'))
      throw new IllegalArgumentException(
        s"invalid assignment target '$name' in: $in")
    (name, parse(in.substring(split + 1), env))
  }

  /** pandas MULTI-STATEMENT `df.eval`: newline-separated assignment
    * statements (blank lines and pure-whitespace lines ignored), each
    * in [[parseAssign]]'s `name = expression` form, returned in
    * source order. The parser is name-agnostic — a later statement's
    * reference to an earlier target is just `col(name)` — so the
    * caller materializes the pandas sequencing by folding
    * `withColumn` in order (what `df.evalAssign` does). */
  def parseProgram(in: String,
      env: Map[String, Any] = Map.empty): Seq[(String, Column)] = {
    val stmts = in.split('\n').map(_.trim).filter(_.nonEmpty).toSeq
    if (stmts.isEmpty) throw new IllegalArgumentException(
      s"empty eval program: $in")
    stmts.map(parseAssign(_, env))
  }
}
