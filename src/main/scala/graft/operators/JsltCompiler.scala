package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A JSLT-subset compiler: parses a [JSLT](https://github.com/schibsted/jslt)
  * script (the language the reference's `$jslt` stage runs — Jslt.java:18-36,
  * Script.java:28-95) and compiles it to Catalyst `Column`s against the input
  * schema, so the whole transform stays inside whole-stage codegen — no UDF,
  * no JSON round-trip, no external engine.
  *
  * Supported subset (static, schema-compiled):
  *  - literals: `null`, booleans, numbers, strings
  *  - paths: `.`, `.foo.bar`, `.foo[0]`, `.[2]` (missing fields resolve to
  *    null, Mongo/JSLT-style)
  *  - object constructors `{"k": expr, ...}` with an optional trailing
  *    matcher `* : .` / `* - k1, k2 : .` copying the remaining context
  *    fields (the matcher expression must be `.`, the current context)
  *  - array constructors, `[for (arrExpr) body]`, `[for (arrExpr) body
  *    if (cond)]`
  *  - `let name = expr` bindings (top level and object-body level) + `$name`
  *  - `if (cond) e1 else e2` (JSLT falsiness: null/false/empty string/0;
  *    `else` optional → null)
  *  - operators `+ - * / == != < <= > >= and or not(...)`; `+` is string
  *    concat when either side is a string, object merge (LEFT wins, per the
  *    JSLT spec) when both sides are schema-known objects, else numeric
  *  - functions: size, string, number, boolean, not, lowercase, uppercase,
  *    trim, contains, join, split, starts-with, ends-with, round, floor,
  *    ceiling, error
  *  - `//` comments
  *
  * Dynamic constructs the columnar model cannot express statically (computed
  * keys, recursive functions, `get-key` on unknown objects) raise a clear
  * `JsltCompileError` — the reference rethrows script errors the same way
  * (Script.java:40-55).
  */
object JsltCompiler {

  final class JsltCompileError(msg: String) extends IllegalArgumentException(msg)

  // ---- AST ------------------------------------------------------------------

  sealed trait Ast
  case class Lit(v: Any) extends Ast // null, Boolean, Long, Double, String
  case class Path(steps: List[Step]) extends Ast // empty = "."
  case class Var(name: String) extends Ast
  /** Object constructor. Keys are expressions: the static compiler requires
    * them to be string literals; the dynamic interpreter evaluates any
    * string-valued key. */
  case class ObjC(pairs: List[(Ast, Ast)], matcher: Option[(List[String], Ast)]) extends Ast
  case class ArrC(items: List[Ast]) extends Ast
  case class ForArr(input: Ast, body: Ast, cond: Option[Ast]) extends Ast
  /** `{for (input) key : value if (cond)}` — object comprehension; the
    * context inside key/value/cond is `[k, v]` per the JSLT spec. Dynamic
    * mode only (output keys are data-dependent). */
  case class ObjFor(input: Ast, key: Ast, value: Ast, cond: Option[Ast]) extends Ast
  case class If(cond: Ast, thn: Ast, els: Ast) extends Ast
  case class Bin(op: String, l: Ast, r: Ast) extends Ast
  case class Neg(e: Ast) extends Ast
  case class Call(fn: String, args: List[Ast]) extends Ast
  case class Let(bindings: List[(String, Ast)], body: Ast) extends Ast
  /** `def name(p1, p2) body` user function. Static mode inline-expands
    * non-recursive calls; the dynamic interpreter supports recursion with a
    * depth cap. */
  case class FnDef(name: String, params: List[String], body: Ast)
  /** A program with user function definitions in scope. */
  case class Prog(defs: List[FnDef], body: Ast) extends Ast

  sealed trait Step
  case class FieldStep(name: String) extends Step
  case class IndexStep(i: Ast) extends Step

  // ---- Tokenizer ------------------------------------------------------------

  private case class Tok(kind: String, text: String, pos: Int)

  private def tokenize(src: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = src.length
    def isIdStart(c: Char) = c.isLetter || c == '_'
    def isIdPart(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && src(i + 1) == '/') {
        while (i < n && src(i) != '\n') i += 1
      } else if (c == '"') {
        val sb = new StringBuilder
        var j = i + 1
        while (j < n && src(j) != '"') {
          if (src(j) == '\\' && j + 1 < n) {
            sb.append(src(j + 1) match {
              case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
              case other => other
            })
            j += 2
          } else { sb.append(src(j)); j += 1 }
        }
        if (j >= n) throw new JsltCompileError(s"unterminated string at $i")
        out += Tok("str", sb.toString, i); i = j + 1
      } else if (c.isDigit) {
        var j = i
        while (j < n && (src(j).isDigit || src(j) == '.')) j += 1
        out += Tok("num", src.substring(i, j), i); i = j
      } else if (isIdStart(c)) {
        var j = i
        // '-' stays inside an identifier when followed by a letter (JSLT
        // function names like starts-with); "a - b" needs the spaces the
        // JSLT style guide already mandates
        while (j < n && (isIdPart(src(j)) ||
          (src(j) == '-' && j + 1 < n && isIdStart(src(j + 1))))) j += 1
        out += Tok("id", src.substring(i, j), i); i = j
      } else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=").contains(two)) {
          out += Tok("op", two, i); i += 2
        } else {
          out += Tok("op", c.toString, i); i += 1
        }
      }
    }
    out += Tok("eof", "", n)
    out.result()
  }

  // ---- Parser (recursive descent) ------------------------------------------

  private final class Parser(toks: Vector[Tok]) {
    private var p = 0
    private def peek: Tok = toks(p)
    private def next(): Tok = { val t = toks(p); p += 1; t }
    private def expect(text: String): Tok = {
      val t = next()
      if (!(t.kind == "op" && t.text == text)) throw new JsltCompileError(
        s"expected '$text' but found '${t.text}' at ${t.pos}")
      t
    }
    // operator tokens only — a STRING literal "-" must not match unary minus
    private def at(text: String): Boolean = peek.kind == "op" && peek.text == text

    def parseProgram(): Ast = {
      val defs = List.newBuilder[FnDef]
      val lets = List.newBuilder[(String, Ast)]
      var more = true
      while (more) { // defs and lets interleave at the top level
        if (peek.kind == "id" && peek.text == "def") defs += parseDef()
        else if (peek.kind == "id" && peek.text == "let") lets += parseLet()
        else more = false
      }
      val e = parseExpr()
      if (peek.kind != "eof")
        throw new JsltCompileError(s"trailing input at ${peek.pos}: '${peek.text}'")
      val lb = lets.result()
      val body = if (lb.isEmpty) e else Let(lb, e)
      val db = defs.result()
      if (db.isEmpty) body else Prog(db, body)
    }

    private def parseDef(): FnDef = {
      next() // def
      val name = next().text
      expect("(")
      val params = List.newBuilder[String]
      if (!at(")")) {
        params += next().text
        while (at(",")) { next(); params += next().text }
      }
      expect(")")
      FnDef(name, params.result(), parseExpr())
    }

    private def parseLet(): (String, Ast) = {
      next() // let
      val name = next().text
      expect("=")
      name -> parseExpr()
    }

    private def parseLets(): List[(String, Ast)] = {
      val bs = List.newBuilder[(String, Ast)]
      while (peek.kind == "id" && peek.text == "let") bs += parseLet()
      bs.result()
    }

    def parseExpr(): Ast = parseOr()

    private def parseOr(): Ast = {
      var l = parseAnd()
      while (peek.kind == "id" && peek.text == "or") { next(); l = Bin("or", l, parseAnd()) }
      l
    }
    private def parseAnd(): Ast = {
      var l = parseCmp()
      while (peek.kind == "id" && peek.text == "and") { next(); l = Bin("and", l, parseCmp()) }
      l
    }
    private def parseCmp(): Ast = {
      val l = parseAdd()
      if (peek.kind == "op" && Set("==", "!=", "<", "<=", ">", ">=").contains(peek.text)) {
        val op = next().text
        Bin(op, l, parseAdd())
      } else l
    }
    private def parseAdd(): Ast = {
      var l = parseMul()
      while (peek.kind == "op" && (peek.text == "+" || peek.text == "-")) {
        val op = next().text
        l = Bin(op, l, parseMul())
      }
      l
    }
    private def parseMul(): Ast = {
      var l = parseUnary()
      while (peek.kind == "op" && (peek.text == "*" || peek.text == "/")) {
        val op = next().text
        l = Bin(op, l, parseUnary())
      }
      l
    }
    private def parseUnary(): Ast =
      if (at("-")) { next(); Neg(parseUnary()) } else parsePostfix()

    private def parsePostfix(): Ast = {
      var e = parsePrimary()
      // selectors after non-path primaries: $x.foo, fn(..)[0]
      var continue = true
      while (continue) {
        if (at(".") && toks(p + 1).kind == "id") {
          next()
          val f = next().text
          e = e match {
            case Path(steps) => Path(steps :+ FieldStep(f))
            case other       => Sel(other, FieldStep(f))
          }
        } else if (at("[") && !e.isInstanceOf[ObjC]) {
          next()
          val idx = parseExpr()
          expect("]")
          e = e match {
            case Path(steps) => Path(steps :+ IndexStep(idx))
            case other       => Sel(other, IndexStep(idx))
          }
        } else continue = false
      }
      e
    }

    private def parsePrimary(): Ast = {
      val t = peek
      t.kind match {
        case "num" =>
          next()
          if (t.text.contains('.')) Lit(t.text.toDouble) else Lit(t.text.toLong)
        case "str" => next(); Lit(t.text)
        case "id" =>
          t.text match {
            case "true"  => next(); Lit(true)
            case "false" => next(); Lit(false)
            case "null"  => next(); Lit(null)
            case "if" =>
              next(); expect("(")
              val c = parseExpr()
              expect(")")
              val thn = parseExpr()
              val els =
                if (peek.kind == "id" && peek.text == "else") { next(); parseExpr() }
                else Lit(null)
              If(c, thn, els)
            case name =>
              next()
              if (at("(")) {
                next()
                val args = List.newBuilder[Ast]
                if (!at(")")) {
                  args += parseExpr()
                  while (at(",")) { next(); args += parseExpr() }
                }
                expect(")")
                Call(name, args.result())
              } else throw new JsltCompileError(
                s"unexpected identifier '$name' at ${t.pos}")
          }
        case _ =>
          t.text match {
            case "." =>
              next()
              val steps = List.newBuilder[Step]
              var continue = true
              while (continue) {
                if (peek.kind == "id" &&
                  !Set("and", "or", "if", "else", "let", "for").contains(peek.text)) {
                  steps += FieldStep(next().text)
                  if (at(".")) next() else continue = false
                } else if (at("[")) {
                  next(); steps += IndexStep(parseExpr()); expect("]")
                  if (at(".")) next() else continue = false
                } else continue = false
              }
              Path(steps.result())
            case "$" => next(); Var(next().text)
            case "(" =>
              next()
              val lets = parseLets()
              val e = parseExpr()
              expect(")")
              if (lets.isEmpty) e else Let(lets, e)
            case "[" =>
              next()
              if (peek.kind == "id" && peek.text == "for") {
                next(); expect("(")
                val input = parseExpr()
                expect(")")
                val body = parseExpr()
                val cond =
                  if (peek.kind == "id" && peek.text == "if") {
                    next(); expect("(")
                    val c = parseExpr()
                    expect(")")
                    Some(c)
                  } else None
                expect("]")
                ForArr(input, body, cond)
              } else {
                val items = List.newBuilder[Ast]
                if (!at("]")) {
                  items += parseExpr()
                  while (at(",")) { next(); items += parseExpr() }
                }
                expect("]")
                ArrC(items.result())
              }
            case "{" =>
              next()
              val lets = parseLets()
              // object comprehension: {for (input) key : value [if (cond)]}
              if (peek.kind == "id" && peek.text == "for" &&
                  toks(p + 1).kind == "op" && toks(p + 1).text == "(") {
                next(); expect("(")
                val input = parseExpr()
                expect(")")
                val key = parseExpr()
                expect(":")
                val value = parseExpr()
                val cond =
                  if (peek.kind == "id" && peek.text == "if") {
                    next(); expect("(")
                    val c = parseExpr()
                    expect(")")
                    Some(c)
                  } else None
                expect("}")
                val o = ObjFor(input, key, value, cond)
                if (lets.isEmpty) o else Let(lets, o)
              } else {
                val pairs = List.newBuilder[(Ast, Ast)]
                var matcher: Option[(List[String], Ast)] = None
                var continue = !at("}")
                while (continue) {
                  if (at("*")) {
                    next()
                    val minus = List.newBuilder[String]
                    if (at("-")) {
                      next()
                      minus += next().text
                      while (at(",")) { next(); minus += next().text }
                    }
                    expect(":")
                    matcher = Some((minus.result(), parseExpr()))
                  } else {
                    // literal key sugar (`{"k": v}` / `{k: v}`) when the next
                    // token is ':'; anything else is a computed-key expression
                    val k: Ast =
                      if ((peek.kind == "str" || peek.kind == "id") &&
                          toks(p + 1).kind == "op" && toks(p + 1).text == ":")
                        Lit(next().text)
                      else parseExpr()
                    expect(":")
                    pairs += k -> parseExpr()
                  }
                  if (at(",")) next() else continue = false
                  if (at("}")) continue = false
                }
                expect("}")
                val o = ObjC(pairs.result(), matcher)
                if (lets.isEmpty) o else Let(lets, o)
              }
            case other =>
              throw new JsltCompileError(s"unexpected '$other' at ${t.pos}")
          }
      }
    }
  }

  /** Selector applied to a non-path expression ($x.foo, fn()[0]). */
  case class Sel(base: Ast, step: Step) extends Ast

  def parse(src: String): Ast = new Parser(tokenize(src)).parseProgram()

  // ---- Compiler -------------------------------------------------------------

  /** A compiled value: the Column plus its statically-known type (None when
    * the subset's type rules can't pin it — only matchers/object-merge/
    * function dispatch NEED a known type). */
  final case class TC(col: Column, typ: Option[DataType])

  /** Compilation context: the document schema, the current JSLT context
    * (None = the root document, whose fields are the DataFrame columns),
    * let/for bindings, user function defs, and the inline-expansion stack
    * (recursion detection). */
  final case class Cctx(root: StructType, context: Option[TC], vars: Map[String, TC],
      defs: Map[String, FnDef] = Map.empty, expanding: Set[String] = Set.empty,
      staticVars: Map[String, String] = Map.empty)

  def compileProgram(src: String, root: StructType): TC =
    compile(parse(src), Cctx(root, None, Map.empty))

  private def rootStruct(root: StructType): TC =
    TC(struct(root.fields.map(f => col(f.name).as(f.name)).toIndexedSeq: _*), Some(root))

  private def walk(tc: TC, steps: List[Step], ctx: Cctx): TC = steps match {
    case Nil => tc
    case FieldStep(name) :: rest =>
      tc.typ match {
        case Some(st: StructType) =>
          st.find(_.name == name) match {
            case Some(f) => walk(TC(tc.col.getField(name), Some(f.dataType)), rest, ctx)
            case None    => TC(lit(null), Some(NullType)) // missing -> null
          }
        case _ => walk(TC(tc.col.getField(name), None), rest, ctx)
      }
    case IndexStep(i) :: rest =>
      val idx = compile(i, ctx)
      val elemT = tc.typ.collect { case ArrayType(e, _) => e }
      // JSLT indexes from 0; Spark element_at from 1 (negative = from end)
      val zeroBased = element_at(tc.col,
        when(idx.col >= 0, idx.col.cast(IntegerType) + 1)
          .otherwise(idx.col.cast(IntegerType)))
      walk(TC(zeroBased, elemT), rest, ctx)
  }

  private def contextTC(ctx: Cctx): TC =
    ctx.context.getOrElse(rootStruct(ctx.root))

  /** Schema-known object fields of an expression, for matchers and `+` merge:
    * paths (schema walk), object constructors, and `+` of two such. */
  private def objFields(e: Ast, ctx: Cctx): Option[List[(String, Column)]] = e match {
    case Path(steps) =>
      val base = walk(contextTC(ctx), steps, ctx)
      base.typ.collect { case st: StructType =>
        st.fields.map(f => f.name -> base.col.getField(f.name)).toList
      } orElse {
        if (steps.isEmpty && ctx.context.isEmpty)
          Some(ctx.root.fields.map(f => f.name -> col(f.name)).toList)
        else None
      }
    case o: ObjC => Some(compileObjFields(o, ctx))
    case Bin("+", l, r) => // JSLT object +: LEFT wins on conflicts
      for (lf <- objFields(l, ctx); rf <- objFields(r, ctx))
        yield lf ++ rf.filterNot { case (k, _) => lf.exists(_._1 == k) }
    case Let(bs, body) => objFields(body, bindLets(bs, ctx))
    case Prog(defs, body) =>
      objFields(body, ctx.copy(defs = ctx.defs ++ defs.map(d => d.name -> d)))
    case _ => None
  }

  private def bindLets(bs: List[(String, Ast)], ctx: Cctx): Cctx =
    bs.foldLeft(ctx) { case (c, (name, e)) =>
      val bound = c.copy(vars = c.vars + (name -> compile(e, c)))
      // record let-bound CONSTANT strings so computed keys built from them
      // stay compilable in typed mode (the key set is still static)
      staticString(e, c).fold(bound)(s =>
        bound.copy(staticVars = bound.staticVars + (name -> s)))
    }

  /** AST-level constant-string evaluation: literals, let-bound constant
    * strings, and `+` concatenations of such. Used for computed object
    * KEYS — when the key folds to a compile-time constant, the output
    * schema is still static and the columnar engine can take it. */
  private def staticString(e: Ast, ctx: Cctx): Option[String] = e match {
    case Lit(s: String) => Some(s)
    case Var(name)      => ctx.staticVars.get(name)
    case Bin("+", l, r) =>
      for (a <- staticString(l, ctx); b <- staticString(r, ctx)) yield a + b
    case Let(bs, body)  => staticString(body, bindLets(bs, ctx))
    case _              => None
  }

  /** Static object keys: string literals, or computed keys that FOLD to a
    * compile-time constant ([[staticString]] — literal let bindings and
    * concatenation). Truly data-dependent keys are a dynamic-mode construct
    * (the output schema would be data-dependent). */
  private def litKey(k: Ast, ctx: Cctx): String =
    staticString(k, ctx).getOrElse(throw new JsltCompileError(
      s"computed object keys require the dynamic pipeline mode: $k"))

  private def compileObjFields(o: ObjC, ctx: Cctx): List[(String, Column)] = {
    // duplicate literal keys: LAST wins (JSON object semantics), keeping the
    // first occurrence's position
    val explicit = o.pairs.map { case (k, v) => litKey(k, ctx) -> compile(v, ctx).col }
    val dedup = explicit.map(_._1).distinct.map { k =>
      k -> explicit.reverse.find(_._1 == k).get._2
    }
    val matched = o.matcher match {
      case None => Nil
      case Some((minus, expr)) =>
        val fields = objFields(expr, ctx).getOrElse(throw new JsltCompileError(
          "matcher '*' needs a schema-known object expression (a path or object)"))
        val taken = o.pairs.map(p => litKey(p._1, ctx)).toSet ++ minus
        fields.filterNot { case (k, _) => taken(k) }
    }
    dedup ++ matched
  }

  /** JSLT falsiness: null, false, 0, "" (and empty array/object) are false. */
  private def truthy(tc: TC): Column = tc.typ match {
    case Some(BooleanType)     => coalesce(tc.col, lit(false))
    case Some(StringType)      => tc.col.isNotNull && length(tc.col) > 0
    case Some(_: ArrayType)    => tc.col.isNotNull && size(tc.col) > 0
    case Some(_: StructType)   => tc.col.isNotNull // schema structs are non-empty
    case Some(t) if t.isInstanceOf[NumericType] => tc.col.isNotNull && tc.col =!= 0
    case Some(NullType)        => lit(false)
    case _                     => coalesce(tc.col.cast(BooleanType), lit(false))
  }

  private def isStringy(tc: TC): Boolean = tc.typ.contains(StringType)

  def compile(e: Ast, ctx: Cctx): TC = e match {
    case Lit(null)       => TC(lit(null), Some(NullType))
    case Lit(b: Boolean) => TC(lit(b), Some(BooleanType))
    case Lit(l: Long)    => TC(lit(l), Some(LongType))
    case Lit(d: Double)  => TC(lit(d), Some(DoubleType))
    case Lit(s: String)  => TC(lit(s), Some(StringType))
    case Lit(other)      => throw new JsltCompileError(s"bad literal $other")

    case Path(steps) => walk(contextTC(ctx), steps, ctx)

    case Var(name) => ctx.vars.getOrElse(name,
      throw new JsltCompileError(s"undefined variable $$$name"))

    case Sel(base, step) => walk(compile(base, ctx), List(step), ctx)

    case o: ObjC =>
      val fields = compileObjFields(o, ctx)
      if (fields.isEmpty) throw new JsltCompileError("empty object constructor")
      TC(struct(fields.map { case (k, c) => c.as(k) }: _*), None)

    case ArrC(items) =>
      val cs = items.map(compile(_, ctx))
      val t = cs.flatMap(_.typ).distinct match {
        case t :: Nil if cs.forall(_.typ.isDefined) => Some(ArrayType(t))
        case _ => None
      }
      TC(array(cs.map(_.col): _*), t)

    case ForArr(input, body, cond) =>
      val in = compile(input, ctx)
      val elemT = in.typ.collect { case ArrayType(t, _) => t }
      def withElem(x: Column): Cctx = ctx.copy(context = Some(TC(x, elemT)))
      val filtered = cond match {
        case Some(c) => filter(in.col, x => truthy(compile(c, withElem(x))))
        case None    => in.col
      }
      // body type propagates only when statically known for every element
      val bodyT = compile(body, withElem(lit(null))).typ
      TC(transform(filtered, x => compile(body, withElem(x)).col),
        bodyT.map(ArrayType(_)))

    case If(c, thn, els) =>
      val ct = truthy(compile(c, ctx))
      val (t, f) = (compile(thn, ctx), compile(els, ctx))
      val typ = (t.typ, f.typ) match {
        case (Some(a), Some(b)) if a == b => Some(a)
        case (Some(a), Some(NullType))    => Some(a)
        case (Some(NullType), Some(b))    => Some(b)
        case _                            => None
      }
      TC(when(ct, t.col).otherwise(f.col), typ)

    case Neg(x) =>
      val tc = compile(x, ctx)
      TC(negate(tc.col), tc.typ)

    case Bin(op, l, r) =>
      op match {
        case "and" => TC(truthy(compile(l, ctx)) && truthy(compile(r, ctx)), Some(BooleanType))
        case "or"  => TC(truthy(compile(l, ctx)) || truthy(compile(r, ctx)), Some(BooleanType))
        case "=="  => TC(compile(l, ctx).col === compile(r, ctx).col, Some(BooleanType))
        case "!="  => TC(compile(l, ctx).col =!= compile(r, ctx).col, Some(BooleanType))
        case "<"   => TC(compile(l, ctx).col < compile(r, ctx).col, Some(BooleanType))
        case "<="  => TC(compile(l, ctx).col <= compile(r, ctx).col, Some(BooleanType))
        case ">"   => TC(compile(l, ctx).col > compile(r, ctx).col, Some(BooleanType))
        case ">="  => TC(compile(l, ctx).col >= compile(r, ctx).col, Some(BooleanType))
        case "+" =>
          // object merge first (schema-known), then string concat, then numeric
          (objFields(l, ctx), objFields(r, ctx)) match {
            case (Some(lf), Some(rf)) =>
              val merged = lf ++ rf.filterNot { case (k, _) => lf.exists(_._1 == k) }
              TC(struct(merged.map { case (k, c) => c.as(k) }: _*), None)
            case _ =>
              val (lc, rc) = (compile(l, ctx), compile(r, ctx))
              if (isStringy(lc) || isStringy(rc))
                TC(concat(lc.col.cast(StringType), rc.col.cast(StringType)), Some(StringType))
              else if (lc.typ.exists(_.isInstanceOf[ArrayType]) &&
                rc.typ.exists(_.isInstanceOf[ArrayType]))
                TC(concat(lc.col, rc.col), lc.typ)
              else TC(lc.col + rc.col, numType(lc, rc))
          }
        case "-" =>
          val (lc, rc) = (compile(l, ctx), compile(r, ctx))
          TC(lc.col - rc.col, numType(lc, rc))
        case "*" =>
          val (lc, rc) = (compile(l, ctx), compile(r, ctx))
          TC(lc.col * rc.col, numType(lc, rc))
        case "/" =>
          val (lc, rc) = (compile(l, ctx), compile(r, ctx))
          // JSLT division is real division
          TC(lc.col.cast(DoubleType) / rc.col.cast(DoubleType), Some(DoubleType))
        case other => throw new JsltCompileError(s"operator $other")
      }

    case Call(fn, args) => compileCall(fn, args, ctx)

    case Let(bs, body) => compile(body, bindLets(bs, ctx))

    case Prog(defs, body) =>
      compile(body, ctx.copy(defs = ctx.defs ++ defs.map(d => d.name -> d)))

    case _: ObjFor => throw new JsltCompileError(
      "object-for produces data-dependent keys; use the dynamic pipeline mode")
  }

  private def numType(l: TC, r: TC): Option[DataType] = (l.typ, r.typ) match {
    case (Some(LongType), Some(LongType)) => Some(LongType)
    case (Some(a: NumericType), Some(b: NumericType)) =>
      if (a == DoubleType || b == DoubleType) Some(DoubleType) else Some(LongType)
    case _ => None
  }

  private def compileCall(fn: String, args: List[Ast], ctx: Cctx): TC = {
    def one: TC = compile(args.head, ctx)
    def two: (TC, TC) = (compile(args(0), ctx), compile(args(1), ctx))
    fn match {
      case "size" =>
        val a = one
        a.typ match {
          case Some(StringType)   => TC(length(a.col), Some(IntegerType))
          case Some(_: ArrayType) => TC(size(a.col), Some(IntegerType))
          case Some(st: StructType) => TC(lit(st.size), Some(IntegerType))
          case _                  => TC(size(a.col), Some(IntegerType))
        }
      case "string"  => TC(one.col.cast(StringType), Some(StringType))
      case "number"  => TC(one.col.cast(DoubleType), Some(DoubleType))
      case "boolean" => TC(truthy(one), Some(BooleanType))
      case "not"     => TC(!truthy(one), Some(BooleanType))
      case "lowercase" => TC(lower(one.col), Some(StringType))
      case "uppercase" => TC(upper(one.col), Some(StringType))
      case "trim"      => TC(trim(one.col), Some(StringType))
      case "contains" => // contains(element, sequence) — Jslt builtin arg order
        val (el, seq) = two
        seq.typ match {
          case Some(StringType) =>
            TC(seq.col.contains(el.col), Some(BooleanType))
          case _ => TC(array_contains(seq.col, el.col), Some(BooleanType))
        }
      case "join" =>
        val (arr, sep) = two
        TC(concat_ws_join(arr.col, sep.col), Some(StringType))
      case "split" =>
        val (s, re) = two
        TC(split(s.col, regexLit(re)), Some(ArrayType(StringType)))
      case "starts-with" =>
        val (s, pre) = two
        TC(s.col.startsWith(pre.col), Some(BooleanType))
      case "ends-with" =>
        val (s, suf) = two
        TC(s.col.endsWith(suf.col), Some(BooleanType))
      case "round"   => TC(round(one.col).cast(LongType), Some(LongType))
      case "floor"   => TC(floor(one.col).cast(LongType), Some(LongType))
      case "ceiling" => TC(ceil(one.col).cast(LongType), Some(LongType))
      case "replace" => // replace(value, regexp, out) — JSLT regex semantics
        val List(v, re, out) = args.map(compile(_, ctx))
        TC(regexp_replace(v.col, re.col, out.col), Some(StringType))
      case "flatten" =>
        val a = one
        TC(flatten(a.col), a.typ.collect { case ArrayType(inner, _) => inner })
      case "sum" =>
        val a = one
        TC(coalesce(aggregate(filter(a.col, x => x.isNotNull),
          lit(0d), (acc, x) => acc + x), lit(0d)), Some(DoubleType))
      case "min" =>
        val (x, y) = two
        TC(least(x.col, y.col), if (x.typ == y.typ) x.typ else None)
      case "max" =>
        val (x, y) = two
        TC(greatest(x.col, y.col), if (x.typ == y.typ) x.typ else None)
      case "error" =>
        TC(raise_error(one.col.cast(StringType)), Some(NullType))
      case "fallback" =>
        // first non-null argument (missing compiles to null already); the
        // result type is the common declared type if the args agree
        val cs = args.map(compile(_, ctx))
        TC(coalesce(cs.map(_.col): _*),
          cs.map(_.typ).distinct match { case List(t) => t; case _ => None })
      case other =>
        ctx.defs.get(other) match {
          case Some(d) =>
            // inline expansion: the body compiles at the call site with
            // params bound as vars — the function sees the caller's `.`
            // context, exactly JSLT's rule. A cycle cannot inline.
            if (ctx.expanding(other)) throw new JsltCompileError(
              s"recursive function '$other' cannot compile statically; " +
                "use the dynamic pipeline mode")
            if (d.params.length != args.length) throw new JsltCompileError(
              s"$other expects ${d.params.length} arguments, got ${args.length}")
            val bound = d.params.zip(args.map(compile(_, ctx))).toMap
            compile(d.body, ctx.copy(vars = ctx.vars ++ bound,
              expanding = ctx.expanding + other))
          case None => throw new JsltCompileError(s"unsupported function: $other")
        }
    }
  }

  /** array_join needs a literal separator Column; JSLT join takes any expr —
    * concat_ws-style fallback via aggregate keeps it columnar. */
  private def concat_ws_join(arr: Column, sep: Column): Column =
    when(size(arr) === 0, lit(""))
      .otherwise(aggregate(
        // tail of the array; slice length must stay within Int range
        // (start + Int.MaxValue overflows inside slice -> empty result)
        slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
        element_at(arr, 1).cast(StringType),
        (acc, x) => concat(acc, sep.cast(StringType), x.cast(StringType))))

  private def regexLit(tc: TC): Column = tc.col
}
