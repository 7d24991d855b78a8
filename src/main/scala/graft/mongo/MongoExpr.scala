package graft.mongo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

/** Compilation context for the MongoDB aggregation expression language.
  *
  * @param field resolves a (possibly dotted) document field path to a Column.
  *              Default: top-level column + `getField` chain for nested structs.
  * @param vars  system + user variables (`$$ROOT`, `$$this`, `$$value`, `$lookup`
  *              `let` vars, `$let` vars). Bound values are Columns.
  */
final case class ExprCtx(
    field: String => Column = MongoExpr.defaultFieldRef,
    vars: Map[String, Column] = Map.empty,
    typeOf: String => Option[DataType] = _ => None) {
  def bind(name: String, c: Column): ExprCtx = copy(vars = vars + (name -> c))
}

/** Compiles MongoDB aggregation *expressions* (the `pincette-mongo`
  * `Expression.function` surface used by the reference —
  * /root/reference/src/main/java/net/pincette/mongo/streams/Pipeline.java:37 and
  * SURVEY.md §2.9) into Catalyst [[Column]]s. Everything stays inside
  * whole-stage codegen: no UDFs.
  *
  * Notable deviations (documented; see SURVEY.md §7):
  *  - truthiness of non-empty strings (Mongo: true) is approximated via a
  *    boolean cast (null for strings ⇒ false);
  *  - Mongo's cross-BSON-type total order is not replicated — comparisons use
  *    Spark/ANSI-less semantics on homogeneous types;
  *  - `$regexFind` returns just the matched string, not `{match,idx,captures}`.
  */
object MongoExpr {

  def defaultFieldRef(path: String): Column = {
    val parts = path.split('.')
    parts.tail.foldLeft(col(parts.head))(_ getField _)
  }

  /** Mongo truthiness: null/missing/0/false ⇒ false, else true. */
  def truthy(c: Column): Column = coalesce(c.cast(BooleanType), lit(false))

  /** Mongo comparison: the BSON total order puts the null bracket BELOW
    * every value ({$lt: [null, 0]} is true); within a bracket the ordinary
    * ordering applies. Cross-NONNULL-bracket comparisons don't arise in the
    * typed engine (a column has one static type); heterogeneous data is the
    * dynamic engine's job (DynJson.compare). */
  def mongoCmp(a: Column, b: Column): Column =
    when(a.isNull && b.isNull, 0)
      .when(a.isNull, -1)
      .when(b.isNull, 1)
      .when(a < b, -1).when(a > b, 1).otherwise(0)

  def literal(v: JValue): Column = v match {
    case JString(s)  => lit(s)
    case JInt(i)     => if (i.isValidInt) lit(i.toInt) else lit(i.toLong)
    case JLong(l)    => lit(l)
    case JDouble(d)  => lit(d)
    case JDecimal(d) => lit(d.toDouble)
    case JBool(b)    => lit(b)
    case JNull       => lit(null)
    case JArray(xs)  => array(xs.map(literal): _*)
    case JObject(fs) => struct(fs.map { case (k, x) => literal(x).as(k) }: _*)
    case other       => throw new IllegalArgumentException(s"bad literal: $other")
  }

  def compile(v: JValue)(implicit ctx: ExprCtx): Column = v match {
    case JString(s) if s.startsWith("$$") => variable(s.drop(2))
    case JString(s) if s.startsWith("$")  => ctx.field(s.drop(1))
    case JObject((op, spec) :: Nil) if op.startsWith("$") => applyOp(op, spec)
    case JObject(fields) => // expression object {f1: e1, ...} builds a document
      struct(fields.map { case (k, e) => compile(e).as(k) }: _*)
    case JArray(xs) => array(xs.map(compile): _*)
    case other      => literal(other)
  }

  /** THE Column a MISSING field path compiles to (`ctxFor` returns this
    * very instance, so a reference comparison identifies it — Spark 4's
    * lazy ColumnNode wrapping defeats a structural Literal match). Array
    * ops that Spark typechecks eagerly (element_at, size) short-circuit
    * on it to Mongo's null result instead of an AnalysisException. */
  val MissingRef: Column = lit(null)

  private def isVoidNull(c: Column): Boolean = c eq MissingRef

  private def variable(ref: String)(implicit ctx: ExprCtx): Column = {
    val parts = ref.split('.')
    val base = ctx.vars.getOrElse(parts.head,
      throw new IllegalArgumentException(s"unbound variable $$$$${parts.head}"))
    parts.tail.foldLeft(base)(_ getField _)
  }

  /** Static date-ness of an operand: a schema-typed timestamp/date path,
    * or an operator that always produces a date. Conservative — unknown
    * shapes return false and arithmetic stays numeric. */
  private def staticIsDate(j: JValue)(implicit ctx: ExprCtx): Boolean = j match {
    case JString(s) if s.startsWith("$") && !s.startsWith("$$") =>
      ctx.typeOf(s.drop(1)).exists(t => t == TimestampType || t == DateType)
    case JObject(List((op, inner))) => op match {
      case "$toDate" | "$dateAdd" | "$dateSubtract" | "$dateTrunc" |
           "$dateFromParts" | "$dateFromString" => true
      case "$ifNull" => inner match {
        case JArray(items) => items.exists(staticIsDate)
        case _             => false
      }
      // conditionals produce a date when any VALUE branch does (the
      // condition itself can't leak into the result)
      case "$cond" => inner match {
        case JArray(List(_, t, e)) => staticIsDate(t) || staticIsDate(e)
        case o: JObject => staticIsDate(o \ "then") || staticIsDate(o \ "else")
        case _ => false
      }
      case "$switch" => inner match {
        case o: JObject =>
          val branches = o \ "branches" match {
            case JArray(bs) => bs.exists(b => staticIsDate(b \ "then"))
            case _          => false
          }
          branches || staticIsDate(o \ "default")
        case _ => false
      }
      case _ => false
    }
    case _ => false
  }

  private def args(spec: JValue)(implicit ctx: ExprCtx): List[Column] = spec match {
    case JArray(xs) => xs.map(compile)
    case single     => List(compile(single))
  }

  /** Exact linear-interpolated percentile of an ASC-sorted non-null array:
    * rank = p·(n−1); value = s[⌊rank⌋] + frac·(s[⌈rank⌉] − s[⌊rank⌋]). */
  private def sortedArrayPercentile(s: Column, p: Column): Column = {
    val rank = p * (size(s) - 1).cast(DoubleType)
    val lo = floor(rank).cast(IntegerType)
    val vlo = element_at(s, lo + 1).cast(DoubleType)
    val vhi = element_at(s, ceil(rank).cast(IntegerType) + 1).cast(DoubleType)
    vlo + (vhi - vlo) * (rank - lo.cast(DoubleType))
  }

  private def field(spec: JValue, name: String): JValue = spec match {
    case o: JObject => o \ name
    case _          => JNothing
  }

  private def opt(v: JValue): Option[JValue] = v match {
    case JNothing | JNull => None
    case x                => Some(x)
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other      => throw new IllegalArgumentException(s"expected string, got $other")
  }

  /** Backtick-quote a field name so Spark's nested-field APIs treat it as
    * ONE literal segment (Mongo `$setField`/`$unsetField` never nest). */
  private def quoteField(n: String): String = "`" + n.replace("`", "``") + "`"

  /** Literal regex with Mongo `options` applied as Java inline flags —
    * `i`/`m`/`s`/`x` are exactly `(?imsx)`; anything else rejects. */
  private def regexWithOptions(spec: JValue): String = {
    val pattern = str(field(spec, "regex"))
    val options = opt(field(spec, "options")).map(str).getOrElse("")
    require(options.forall("imsx".contains(_)),
      s"unsupported regex options '$options' (allowed: i m s x)")
    if (options.isEmpty) pattern else s"(?$options)" + pattern
  }

  // Mongo %-style date format -> java.time pattern (used by $dateToString).
  private[graft] def mongoDateFormat(f: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < f.length) {
      if (f.charAt(i) == '%' && i + 1 < f.length) {
        out.append(f.charAt(i + 1) match {
          case 'Y' => "yyyy"; case 'm' => "MM"; case 'd' => "dd"
          case 'H' => "HH"; case 'M' => "mm"; case 'S' => "ss"
          case 'L' => "SSS"; case 'j' => "DDD"; case '%' => "%"
          case c   => throw new IllegalArgumentException(s"unsupported date spec %$c")
        })
        i += 2
      } else {
        val c = f.charAt(i)
        // literal letters (e.g. the ISO 'T' in "%Y-%m-%dT%H:%M:%S") must be
        // quoted — java.time treats bare letters as pattern fields
        if (c.isLetter) out.append('\'').append(c).append('\'')
        else out.append(c)
        i += 1
      }
    }
    out.toString
  }

  private def interval(unit: String, amount: Column): Column = {
    val zero = lit(0)
    unit match {
      case "year"        => make_interval(amount, zero, zero, zero, zero, zero, lit(0d))
      case "quarter"     => make_interval(zero, amount * 3, zero, zero, zero, zero, lit(0d))
      case "month"       => make_interval(zero, amount, zero, zero, zero, zero, lit(0d))
      case "week"        => make_interval(zero, zero, amount, zero, zero, zero, lit(0d))
      case "day"         => make_interval(zero, zero, zero, amount, zero, zero, lit(0d))
      case "hour"        => make_interval(zero, zero, zero, zero, amount, zero, lit(0d))
      case "minute"      => make_interval(zero, zero, zero, zero, zero, amount, lit(0d))
      case "second"      => make_interval(zero, zero, zero, zero, zero, zero, amount.cast(DoubleType))
      case "millisecond" => make_interval(zero, zero, zero, zero, zero, zero, amount.cast(DoubleType) / 1000d)
      case other         => throw new IllegalArgumentException(s"unsupported unit $other")
    }
  }

  private def applyOp(op: String, spec: JValue)(implicit ctx: ExprCtx): Column = op match {
    // ---- arithmetic -------------------------------------------------------
    // Mongo date arithmetic: $add with ONE date operand shifts it by the
    // numeric operands (milliseconds); $subtract of two dates yields the
    // difference in millis, date minus number shifts the date. Operand
    // date-ness resolves statically from the schema (ctx.typeOf) or from
    // date-producing operators; un-inferable operands fall back to plain
    // numeric arithmetic.
    case "$add" =>
      val items = spec match { case JArray(l) => l; case v => List(v) }
      val dated = items.filter(j => staticIsDate(j))
      if (dated.isEmpty) args(spec).reduce(_ + _)
      else {
        require(dated.size == 1, "$add takes at most one date operand")
        val millis = items.map { j =>
          val c = compile(j)
          if (staticIsDate(j)) unix_millis(c.cast(TimestampType))
          else c.cast(LongType)
        }.reduce(_ + _)
        timestamp_millis(millis)
      }
    case "$subtract" =>
      val List(aJ, bJ) = (spec: @unchecked) match { case JArray(l) => l.take(2) }
      val (a, b) = (compile(aJ), compile(bJ))
      (staticIsDate(aJ), staticIsDate(bJ)) match {
        case (true, true) =>
          unix_millis(a.cast(TimestampType)) - unix_millis(b.cast(TimestampType))
        case (true, false) =>
          timestamp_millis(unix_millis(a.cast(TimestampType)) - b.cast(LongType))
        case (false, true) => throw new IllegalArgumentException(
          "$subtract: cannot subtract a date from a number (Mongo errors here;" +
            " swap the operands or $toLong the date first)")
        case _ => a - b
      }
    case "$multiply" => args(spec).reduce(_ * _)
    case "$divide"   => val List(a, b) = args(spec); a / b
    case "$mod"      => val List(a, b) = args(spec); a % b
    case "$abs"      => abs(args(spec).head)
    case "$ceil"     => ceil(args(spec).head)
    case "$floor"    => floor(args(spec).head)
    case "$sqrt"     => sqrt(args(spec).head)
    // trigonometry (all map 1:1 to codegen'd Spark functions)
    case "$sin"   => sin(args(spec).head)
    case "$cos"   => cos(args(spec).head)
    case "$tan"   => tan(args(spec).head)
    case "$asin"  => asin(args(spec).head)
    case "$acos"  => acos(args(spec).head)
    case "$atan"  => atan(args(spec).head)
    case "$atan2" => val List(y, x) = args(spec); atan2(y, x)
    case "$sinh"  => sinh(args(spec).head)
    case "$cosh"  => cosh(args(spec).head)
    case "$tanh"  => tanh(args(spec).head)
    case "$asinh" => asinh(args(spec).head)
    case "$acosh" => acosh(args(spec).head)
    case "$atanh" => atanh(args(spec).head)
    case "$degreesToRadians" => radians(args(spec).head)
    case "$radiansToDegrees" => degrees(args(spec).head)
    case "$exp"      => exp(args(spec).head)
    case "$ln"       => log(args(spec).head)
    case "$log10"    => log10(args(spec).head)
    case "$log"      => val List(x, b) = args(spec); log(x) / log(b)
    case "$pow"      => val List(a, b) = args(spec); pow(a, b)
    case "$round" =>
      spec match {
        case JArray(List(x))    => round(compile(x), 0)
        case JArray(List(x, p)) =>
          val place = p match {
            case JInt(i)  => i.toInt
            case JLong(l) => l.toInt
            case _ => throw new IllegalArgumentException("$round place must be a literal int")
          }
          round(compile(x), place)
        case x => round(compile(x), 0)
      }
    case "$trunc" =>
      args(spec) match {
        case List(x) => x.cast(LongType)
        case List(x, p) =>
          val f = pow(lit(10d), p)
          (when(x >= 0, floor(x * f)).otherwise(ceil(x * f)) / f)
        case _ => throw new IllegalArgumentException("$trunc arity")
      }

    // ---- comparison -------------------------------------------------------
    case "$eq"  => val List(a, b) = args(spec); a <=> b
    case "$ne"  => val List(a, b) = args(spec); !(a <=> b)
    case "$gt"  => val List(a, b) = args(spec); mongoCmp(a, b) > 0
    case "$gte" => val List(a, b) = args(spec); mongoCmp(a, b) >= 0
    case "$lt"  => val List(a, b) = args(spec); mongoCmp(a, b) < 0
    case "$lte" => val List(a, b) = args(spec); mongoCmp(a, b) <= 0
    case "$cmp" => val List(a, b) = args(spec); mongoCmp(a, b)
    case "$strcasecmp" =>
      val List(a, b) = args(spec)
      // null/missing compares as "" (Mongo's string-coercion rule)
      val (la, lb) = (coalesce(lower(a), lit("")), coalesce(lower(b), lit("")))
      when(la < lb, -1).when(la > lb, 1).otherwise(0)

    // ---- boolean ----------------------------------------------------------
    case "$and" => args(spec).map(truthy).reduce(_ && _)
    case "$or"  => args(spec).map(truthy).reduce(_ || _)
    case "$not" => !truthy(args(spec).head)

    // ---- conditional ------------------------------------------------------
    case "$cond" =>
      val (i, t, e) = spec match {
        case JArray(List(a, b, c)) => (a, b, c)
        case o: JObject            => (o \ "if", o \ "then", o \ "else")
        case _ => throw new IllegalArgumentException("$cond spec")
      }
      when(truthy(compile(i)), compile(t)).otherwise(compile(e))
    case "$ifNull" => coalesce(args(spec): _*)
    case "$switch" =>
      val branches = (field(spec, "branches"): @unchecked) match {
        case JArray(bs) => bs.map { b =>
          (truthy(compile(field(b, "case"))), compile(field(b, "then")))
        }
      }
      // Mongo ERRORS when no branch matches and there is no default
      // (Spark's CaseWhen would yield null)
      val default = opt(field(spec, "default")).map(compile).getOrElse(
        raise_error(lit("$switch: no branch matched and no default given")))
      val chain = branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, t)) => acc.when(c, t)
      }
      chain.otherwise(default)

    // ---- string -----------------------------------------------------------
    case "$concat"   => concat(args(spec): _*)
    // null resolves to "" in Mongo's case ops (not SQL null)
    case "$toLower"  => coalesce(lower(args(spec).head), lit(""))
    case "$toUpper"  => coalesce(upper(args(spec).head), lit(""))
    // Mongo 8.0 $toUUID. Neither engine models BinData, so the UUID
    // CONVENTION here is the canonical lowercase string (validated like
    // the server: 8-4-4-4-12 hex); malformed input errors, like Mongo.
    case "$toUUID" =>
      val s0 = args(spec).head
      val re = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
      when(s0.isNull, lit(null).cast(StringType))
        .when(s0.rlike(re), lower(s0))
        .otherwise(raise_error(concat(
          lit("$toUUID: invalid UUID string: "), s0.cast(StringType))))
    case "$strLenCP" => length(args(spec).head)
    case "$strLenBytes" => octet_length(args(spec).head)
    // byte size of a string's UTF-8 encoding / a binary value (Mongo 4.4)
    case "$binarySize" => octet_length(args(spec).head)
    // byte size of the BSON encoding of a document (Mongo 4.4)
    case "$bsonSize" =>
      graft.functions.BsonSizeExpr.bsonSize(args(spec).head)
    // variadic bitwise (Mongo 6.3+); integers only, like the server
    case "$bitAnd" => args(spec).reduce(_.bitwiseAND(_))
    case "$bitOr"  => args(spec).reduce(_.bitwiseOR(_))
    case "$bitXor" => args(spec).reduce(_.bitwiseXOR(_))
    case "$bitNot" => bitwise_not(args(spec).head)
    case "$substrCP" =>
      val List(s, i, n) = args(spec); s.substr(i + 1, n)
    case "$substrBytes" =>
      val List(s, i, n) = args(spec)
      graft.functions.ByteStringExprs.substrBytes(s, i, n)
    // deprecated server op: BYTE-indexed like $substrBytes, but a negative
    // count means "rest of the string" (legacy rule $substrBytes rejects)
    case "$substr" =>
      val List(s, i, n) = args(spec)
      graft.functions.ByteStringExprs.substrBytes(
        s, i, when(n < 0, lit(Int.MaxValue)).otherwise(n))
    case "$indexOfBytes" =>
      args(spec) match {
        case List(s, sub) => graft.functions.ByteStringExprs
          .indexOfBytes(s, sub, lit(0), lit(Long.MaxValue))
        case List(s, sub, start) => graft.functions.ByteStringExprs
          .indexOfBytes(s, sub, start, lit(Long.MaxValue))
        case List(s, sub, start, end) =>
          graft.functions.ByteStringExprs.indexOfBytes(s, sub, start, end)
        case _ => throw new IllegalArgumentException("$indexOfBytes arity")
      }
    case "$split" =>
      val JArray(List(s, d)) = (spec: @unchecked)
      split(compile(s), java.util.regex.Pattern.quote(str(d)))
    case "$trim"  => trimOp(spec, (c, ch) => ch.map(x => trim(c, x)).getOrElse(trim(c)))
    case "$ltrim" => trimOp(spec, (c, ch) => ch.map(x => ltrim(c, x)).getOrElse(ltrim(c)))
    case "$rtrim" => trimOp(spec, (c, ch) => ch.map(x => rtrim(c, x)).getOrElse(rtrim(c)))
    case "$indexOfCP" =>
      args(spec) match {
        case List(s, sub)        => locate_dyn(sub, s, lit(1)) - 1
        case List(s, sub, start) => locate_dyn(sub, s, start + 1) - 1
        case List(s, sub, start, end) =>
          // Mongo searches the WINDOW s[start, end): the occurrence must
          // fit entirely inside it (["abc","bc",0,2] -> -1)
          val idx = locate_dyn(sub,
            s.substr(start + 1, greatest(end - start, lit(0))), lit(1)) - 1
          when(idx === -1, lit(-1)).otherwise(idx + start)
        case _ => throw new IllegalArgumentException("$indexOfCP arity")
      }
    case "$regexMatch" => // null/missing input -> false, like Mongo
      coalesce(compile(field(spec, "input"))
        .rlike(regexWithOptions(spec)), lit(false))
    case "$regexFind" =>
      // Mongo's full {match, idx, captures} document for the FIRST match
      // (null when none): first element of the regex_find_all expression —
      // code-point idx, null for non-participating capture groups.
      val all = graft.functions.RegexFindAllExpr(
        compile(field(spec, "input")), str(field(spec, "regex")),
        opt(field(spec, "options")).map(str).getOrElse(""))
      element_at(all, 1) // 1-based; empty array -> null = Mongo's no-match
    case "$regexFindAll" => // Mongo's [{match, idx, captures}, …]; null
      // input -> [] (the expression never returns null)
      graft.functions.RegexFindAllExpr(
        compile(field(spec, "input")), str(field(spec, "regex")),
        opt(field(spec, "options")).map(str).getOrElse(""))
    case "$replaceOne" =>
      val in = compile(field(spec, "input"))
      val find = compile(field(spec, "find"))
      val repl = compile(field(spec, "replacement"))
      val pos = locate_dyn(find, in, lit(1))
      when(pos === 0, in).otherwise(
        concat(in.substr(lit(1), pos - 1), repl,
          in.substr(pos + length(find), length(in))))
    case "$replaceAll" =>
      call_function("replace", compile(field(spec, "input")),
        compile(field(spec, "find")), compile(field(spec, "replacement")))
    case "$toString" => args(spec).head.cast(StringType)

    // ---- arrays -----------------------------------------------------------
    case "$arrayElemAt" =>
      val List(arr, idx) = args(spec)
      // a MISSING path compiles to the VOID lit(null) (ctxFor): Spark's
      // element_at rejects VOID at analysis where Mongo yields null
      if (isVoidNull(arr)) lit(null)
      else element_at(arr,
        when(idx >= 0, idx + 1).otherwise(idx).cast(IntegerType))
    case "$size" => // null -> null (Spark's legacy size(null) is -1)
      val c = args(spec).head
      if (isVoidNull(c)) lit(null)
      else when(c.isNotNull, size(c))
    case "$slice" =>
      args(spec) match {
        case List(arr, n) =>
          slice(arr, when(n >= 0, lit(1)).otherwise(greatest(n, -size(arr))),
            abs(n).cast(IntegerType))
        case List(arr, skip, n) => slice(arr, skip + 1, n)
        case _ => throw new IllegalArgumentException("$slice arity")
      }
    case "$filter" =>
      val as = opt(field(spec, "as")).map(str).getOrElse("this")
      val input = compile(field(spec, "input"))
      val cond = field(spec, "cond")
      val filtered = filter(input, x => truthy(compile(cond)(ctx.bind(as, x))))
      field(spec, "limit") match { // Mongo 5.2: first `limit` matches only
        case JNothing => filtered
        case l        =>
          // Mongo: a null limit means NO limit; a limit < 1 is an error
          // (matches dynamic/DynExpr.DFilterArr — differential-pinned)
          val lim = compile(l).cast(IntegerType)
          slice(filtered, lit(1), when(lim.isNull, size(filtered))
            .otherwise(when(lim >= 1, lim).otherwise(raise_error(
              concat(lit("$filter limit must be >= 1: "), lim.cast(StringType)))
              .cast(IntegerType))))
      }
    case "$map" =>
      val as = opt(field(spec, "as")).map(str).getOrElse("this")
      val input = compile(field(spec, "input"))
      val in = field(spec, "in")
      transform(input, x => compile(in)(ctx.bind(as, x)))
    case "$reduce" =>
      val input = compile(field(spec, "input"))
      // widen integral literal inits to long: Spark's `aggregate` requires the
      // zero/lambda types to line up exactly, and int + long = long
      val init = field(spec, "initialValue") match {
        case JInt(i)  => lit(i.toLong)
        case JLong(l) => lit(l)
        case other    => compile(other)
      }
      val in = field(spec, "in")
      // a missing input path compiles to a VOID literal, which `aggregate`
      // rejects at analysis — type it as an array so it evaluates to null
      // (Mongo: $reduce over null/missing input yields null)
      val typedInput = // Pipeline.exprCtx compiles a missing path to
        // exactly lit(null) (Column equality is structural)
        if (input == lit(null)) input.cast(ArrayType(NullType)) else input
      aggregate(typedInput, init,
        (acc, x) => compile(in)(ctx.bind("value", acc).bind("this", x)))
    case "$in" =>
      val List(elem, arr) = args(spec)
      array_contains(arr, elem)
    case "$concatArrays" => concat(args(spec): _*)
    case "$reverseArray" => reverse(args(spec).head)
    // array-context aggregation operators (MongoDB: $sum/$avg/$max/$min as
    // EXPRESSIONS take an array argument; the accumulator forms live in
    // Stages.accumulator). Nulls are skipped like Mongo ignores non-numerics.
    case "$sum" =>
      // seed with the FIRST element so integral arrays stay integral (Mongo
      // $sum preserves int/long; a 0.0 seed forced DoubleType); empty/all-null
      // arrays fall through coalesce to Mongo's 0
      val a = args(spec).head
      val nn = filter(a, x => x.isNotNull)
      coalesce(aggregate(slice(nn, lit(2), greatest(size(nn) - 1, lit(0))),
        element_at(nn, 1), (acc, x) => acc + x), lit(0))
    case "$avg" =>
      val a = args(spec).head
      val nn = filter(a, x => x.isNotNull)
      when(size(nn) > 0,
        aggregate(slice(nn, lit(2), greatest(size(nn) - 1, lit(0))),
          element_at(nn, 1), (acc, x) => acc + x).cast(DoubleType) / size(nn))
    // Mongo 7.0: $median/$percentile as EXPRESSIONS over an array input —
    // exact linear interpolation over the sorted non-null values, the same
    // definition as the accumulator forms (Stages reuse Spark `percentile`,
    // which interpolates identically)
    case "$median" =>
      val in = compile(field(spec, "input"))
      if (isVoidNull(in)) lit(null)
      else {
        val s = array_sort(filter(in, _.isNotNull))
        when(size(s) > 0, sortedArrayPercentile(s, lit(0.5)))
      }
    case "$percentile" =>
      val in = compile(field(spec, "input"))
      val s = array_sort(filter(
        if (isVoidNull(in)) lit(null).cast(ArrayType(DoubleType)) else in,
        _.isNotNull))
      val ps = field(spec, "p") match {
        case JArray(l) => l.map {
          case JDouble(d) => d
          case JInt(i)    => i.toDouble
          case other =>
            throw new IllegalArgumentException(s"$$percentile p: $other")
        }
        case other => throw new IllegalArgumentException(s"$$percentile p: $other")
      }
      when(size(s) > 0, array(ps.map(p => sortedArrayPercentile(s, lit(p))): _*))
    case "$max" => args(spec) match {
      case List(one) => array_max(one) // array-context single arg flattens
      case many      => greatest(many: _*) // n-ary scalar form, nulls ignored
    }
    case "$min" => args(spec) match {
      case List(one) => array_min(one)
      case many      => least(many: _*)
    }
    case "$range" =>
      val (start, end, step) = args(spec) match {
        case List(s, e)     => (s, e, lit(1))
        case List(s, e, st) => (s, e, st)
        case _              => throw new IllegalArgumentException("$range arity")
      }
      // Mongo excludes `end`; sequence() is inclusive -> shrink end by one step-sign.
      when((end - start) * signum(step) > 0,
        sequence(start.cast(LongType),
          (end - signum(step).cast(LongType)).cast(LongType), step.cast(LongType)))
        .otherwise(array().cast(ArrayType(LongType)))
    case "$zip" =>
      // full Mongo contract: n-ary, SHORTEST length by default,
      // useLongestLength pads input i with defaults[i] (null without
      // defaults); a null/missing input array nulls the whole result
      val JArray(inputsJ) = (field(spec, "inputs"): @unchecked)
      val inputs = inputsJ.map(compile)
      val useLongest = field(spec, "useLongestLength") == JBool(true)
      val defaults: List[Column] = field(spec, "defaults") match {
        case JArray(ds) => ds.map(compile)
        case _          => inputs.map(_ => lit(null))
      }
      val len =
        if (inputs.size == 1) size(inputs.head)
        else if (useLongest) greatest(inputs.map(size): _*)
        else least(inputs.map(size): _*)
      val anyNull = inputs.map(_.isNull).reduce(_ || _)
      when(anyNull, lit(null)).otherwise(
        when(len === 0, array().cast(ArrayType(ArrayType(NullType)))).otherwise(
          transform(sequence(lit(0), len - 1), i =>
            array(inputs.zip(defaults).map { case (a, d) =>
              when(i < size(a), element_at(a, (i + 1).cast(IntegerType)))
                .otherwise(d)
            }: _*))))
    case "$isArray" => // typeof is static: a NULL value is not an array
      args(spec).headOption.map(c =>
        c.isNotNull && call_function("typeof", c).startsWith("array"))
        .getOrElse(lit(false))
    case "$first" => element_at(args(spec).head, 1)
    case "$last"  => element_at(args(spec).head, -1)
    case "$firstN" =>
      slice(compile(field(spec, "input")), lit(1), compile(field(spec, "n")))
    case "$lastN" =>
      val in = compile(field(spec, "input"))
      val n = compile(field(spec, "n"))
      slice(in, greatest(size(in) - n + 1, lit(1)), n)
    case "$maxN" => // n largest, descending (nulls ignored, like the server)
      val in = filter(compile(field(spec, "input")), x => x.isNotNull)
      slice(reverse(array_sort(in)), lit(1), compile(field(spec, "n")))
    case "$minN" =>
      val in = filter(compile(field(spec, "input")), x => x.isNotNull)
      slice(array_sort(in), lit(1), compile(field(spec, "n")))
    case "$indexOfArray" =>
      val List(arr, target) = args(spec).take(2)
      // Mongo: 0-based index of first match, -1 when absent, NULL when the
      // array itself is null/missing (array_position is null for BOTH a
      // null array and a not-found target, so the cases split explicitly)
      when(arr.isNull, lit(null).cast(IntegerType))
        .otherwise(coalesce(
          array_position(arr, target).cast(IntegerType) - 1, lit(-1)))
    case "$sortArray" =>
      val in = compile(field(spec, "input"))
      field(spec, "sortBy") match {
        case JInt(i) if i < 0 => reverse(array_sort(in))
        case JObject(keys) => // document sort spec over an array of docs —
          // per-field direction with Mongo's null rule (nulls first asc)
          def cmpDoc(l: Column, r: Column): Column =
            keys.foldRight(lit(0)) { case ((f, dir), tie) =>
              val asc = dir match {
                case JInt(v)    => v >= 0
                case JLong(v)   => v >= 0
                case JDouble(d) => d >= 0
                case _          => true
              }
              val (lf, rf) = (l.getField(f), r.getField(f))
              when(lf.isNull && rf.isNull, tie)
                .when(lf.isNull || lf < rf, lit(if (asc) -1 else 1))
                .when(rf.isNull || lf > rf, lit(if (asc) 1 else -1))
                .otherwise(tie)
            }
          array_sort(in, (l, r) => cmpDoc(l, r))
        case _ => array_sort(in)
      }
    case "$setUnion"        => array_sort(args(spec).reduce(array_union))
    case "$setIntersection" => array_sort(args(spec).reduce(array_intersect))
    case "$setDifference"   => val List(a, b) = args(spec); array_sort(array_except(a, b))
    case "$setEquals" => // Mongo ERRORS on null operands (unlike
      // union/intersection/difference, which yield null)
      val List(a, b) = args(spec)
      when(a.isNull || b.isNull, raise_error(
        lit("$setEquals: all operands must be arrays, got null"))
        .cast(BooleanType)).otherwise(
        size(array_except(a, b)) === 0 && size(array_except(b, a)) === 0)
    case "$setIsSubset" =>
      val List(a, b) = args(spec)
      when(a.isNull || b.isNull, raise_error(
        lit("$setIsSubset: both operands must be arrays, got null"))
        .cast(BooleanType)).otherwise(size(array_except(a, b)) === 0)
    case "$allElementsTrue" =>
      forall(args(spec).head, e => truthy(e))
    case "$anyElementTrue" =>
      exists(args(spec).head, e => truthy(e))
    case "$arrayToObject" => // array of {k,v} docs -> map
      map_from_entries(transform(args(spec).head,
        e => struct(e.getField("k"), e.getField("v"))))
    case "$objectToArray" => spec match {
      // literal object: the entries come straight from the spec; a null
      // value means the field was dropped by the object constructor
      // (typed null ≈ missing), so its entry is filtered out
      case JObject(fields) if fields.nonEmpty && !fields.head._1.startsWith("$") =>
        filter(array(fields.map { case (k, v) =>
          struct(lit(k).as("k"), compile(v).as("v")) }: _*),
          e => e.getField("v").isNotNull)
      // schema-typed STRUCT reference: entries from the schema's field set
      // (values coerce to their common type — the schema-first constraint)
      case JString(s0) if s0.startsWith("$") && !s0.startsWith("$$") &&
          ctx.typeOf(s0.drop(1)).exists(_.isInstanceOf[StructType]) =>
        val Some(st: StructType) = (ctx.typeOf(s0.drop(1)): @unchecked)
        val c = compile(spec)
        filter(array(st.fields.toIndexedSeq.map(f =>
          struct(lit(f.name).as("k"), c.getField(f.name).as("v"))): _*),
          e => e.getField("v").isNotNull)
      case JArray(List(single)) if single != spec => applyOp(op, single)
      case _ => // map column -> [{k,v}]
        transform(map_entries(args(spec).head),
          e => struct(e.getField("key").as("k"), e.getField("value").as("v")))
    }
    case "$mergeObjects" =>
      val argsJ = (spec match { case JArray(xs) => xs; case single => List(single) })
        .filter(v => v != JNull && v != JNothing) // Mongo ignores null operands
      // statically-known object shapes merge as structs: literal documents,
      // and schema-typed STRUCT field references (their field set comes from
      // the schema). Field order = first appearance; a later value
      // overwrites only when non-null (typed null ≈ missing).
      def fieldsOf(v: JValue): Option[List[(String, Column)]] = v match {
        case JObject(fs) if fs.isEmpty || !fs.head._1.startsWith("$") =>
          Some(fs.map { case (k, fv) => k -> compile(fv) })
        case JString(s0) if s0.startsWith("$") && !s0.startsWith("$$") =>
          ctx.typeOf(s0.drop(1)).collect { case st: StructType =>
            val c = compile(v)
            st.fields.toList.map(f => f.name -> c.getField(f.name))
          }
        case _ => None
      }
      val shaped = argsJ.map(fieldsOf)
      if (argsJ.nonEmpty && shaped.forall(_.isDefined)) {
        val fs = shaped.flatMap(_.get)
        val keys = fs.map(_._1).distinct
        struct(keys.map { k =>
          coalesce(fs.collect { case (`k`, c) => c }.reverse: _*).as(k)
        }: _*)
      } else map_concat(args(spec): _*) // map columns
    case "$getField" =>
      spec match {
        case JString(f) => ctx.field(f)
        case o: JObject => o \ "input" match {
          case JNothing => ctx.field(str(o \ "field")) // default: $$CURRENT
          case in       => compile(in).getField(str(o \ "field"))
        }
        case _          => throw new IllegalArgumentException("$getField spec")
      }
    case "$setField" =>
      // Mongo: `field` is ONE literal name — backtick-quote so Spark's
      // withField doesn't read an embedded dot as struct nesting
      compile(field(spec, "input")).withField(
        quoteField(str(field(spec, "field"))), compile(field(spec, "value")))
    case "$unsetField" =>
      compile(field(spec, "input"))
        .dropFields(quoteField(str(field(spec, "field"))))

    case "$rand" => rand() // uniform [0, 1) per document (nondeterministic)

    // ---- types ------------------------------------------------------------
    case "$toInt"    => args(spec).head.cast(IntegerType)
    case "$toLong"   => args(spec).head.cast(LongType)
    case "$toDouble" => args(spec).head.cast(DoubleType)
    case "$toBool"   => args(spec).head.cast(BooleanType)
    case "$convert" =>
      val in = compile(field(spec, "input"))
      val to = str(field(spec, "to")) match {
        case "int" => IntegerType; case "long" => LongType
        case "double" => DoubleType; case "bool" => BooleanType
        case "string" => StringType; case "date" => TimestampType
        case other => throw new IllegalArgumentException(s"$$convert to $other")
      }
      // Mongo routing: NULL input -> onNull (else null); a FAILED cast ->
      // onError (else null — with ANSI off a bad cast surfaces as null)
      val conv = in.cast(to)
      val onNull = opt(field(spec, "onNull")).map(compile(_))
        .getOrElse(lit(null))
      val onError = opt(field(spec, "onError")).map(d => coalesce(conv, compile(d)))
        .getOrElse(conv)
      when(in.isNull, onNull).otherwise(onError)
    case "$isNumber" => // typeof is static: a NULL value is not a number
      val in = args(spec).head
      in.isNotNull && call_function("typeof", in)
        .isin("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    case "$type" =>
      val in = args(spec).head
      val t = call_function("typeof", in)
      when(in.isNull, "null") // a null VALUE types as "null", not its column
        .when(t === "int", "int").when(t === "bigint", "long")
        .when(t === "double" || t === "float", "double")
        .when(t === "string", "string").when(t === "boolean", "bool")
        .when(t.startsWith("array"), "array")
        .when(t.startsWith("struct") || t.startsWith("map"), "object")
        .when(t.startsWith("timestamp") || t === "date", "date")
        .otherwise(t)

    // ---- dates ------------------------------------------------------------
    case "$year"       => year(args(spec).head)
    case "$month"      => month(args(spec).head)
    case "$dayOfMonth" => dayofmonth(args(spec).head)
    case "$hour"       => hour(args(spec).head)
    case "$minute"     => minute(args(spec).head)
    case "$second"     => second(args(spec).head)
    case "$dayOfWeek"  => dayofweek(args(spec).head)
    case "$dayOfYear"  => dayofyear(args(spec).head)
    case "$week"       => weekofyear(args(spec).head)
    case "$millisecond" => // ms within the second (post-1970 data)
      ((unix_micros(args(spec).head) % 1000000L) / 1000L).cast(IntegerType)
    case "$isoWeek" => weekofyear(args(spec).head) // Spark weekofyear IS ISO 8601
    case "$isoDayOfWeek" => // 1 = Monday .. 7 = Sunday
      date_part(lit("DAYOFWEEK_ISO"), args(spec).head).cast(IntegerType)
    case "$isoWeekYear" =>
      date_part(lit("YEAROFWEEK"), args(spec).head).cast(IntegerType)
    case "$toDate" => // Mongo: a NUMBER is epoch MILLIS (Spark's cast
      // would read a long as epoch seconds) — numeric-ness resolves from
      // the literal or the schema; strings/dates keep the plain cast
      def toDate1(j: JValue): Column = {
        val c = compile(j)
        j match {
          case JInt(_) | JLong(_) | JDouble(_) =>
            timestamp_millis(c.cast(LongType))
          case JString(s0) if s0.startsWith("$") && !s0.startsWith("$$") =>
            ctx.typeOf(s0.drop(1)) match {
              case Some(_: NumericType) => timestamp_millis(c.cast(LongType))
              case _                    => c.cast(TimestampType)
            }
          case _ => c.cast(TimestampType)
        }
      }
      spec match {
        case JArray(List(j)) => toDate1(j)
        case j               => toDate1(j)
      }
    case "$dateToString" =>
      date_format(compile(field(spec, "date")),
        mongoDateFormat(str(field(spec, "format"))))
    case "$dateFromString" =>
      val ds = compile(field(spec, "dateString"))
      opt(field(spec, "format")) match {
        case Some(f) => to_timestamp(ds, mongoDateFormat(str(f)))
        case None    => to_timestamp(ds)
      }
    case "$dateTrunc" =>
      date_trunc(str(field(spec, "unit")), compile(field(spec, "date")))
    case "$dateToParts" =>
      val d = compile(field(spec, "date"))
      val iso = field(spec, "iso8601") match {
        case JBool(b) => b
        case _        => false
      }
      val timeParts = Seq(hour(d).as("hour"), minute(d).as("minute"),
        second(d).as("second"),
        (unix_millis(d) % 1000).cast(IntegerType).as("millisecond"))
      if (iso) // ISO-8601 week-date parts, like Mongo's iso8601: true
        struct((Seq(
          call_function("extract", lit("YEAROFWEEK"), d).cast(IntegerType)
            .as("isoWeekYear"),
          weekofyear(d).as("isoWeek"),
          // Spark dayofweek: Sunday=1..Saturday=7; ISO: Monday=1..Sunday=7
          when(dayofweek(d) === 1, 7).otherwise(dayofweek(d) - 1)
            .cast(IntegerType).as("isoDayOfWeek")) ++ timeParts): _*)
      else
        struct((Seq(year(d).as("year"), month(d).as("month"),
          dayofmonth(d).as("day")) ++ timeParts): _*)
    case "$dateFromParts" =>
      // Mongo CARRIES out-of-range parts (month 14 rolls the year, day 0
      // backs into the prior month, hour 24 rolls the day) — compose from
      // the year start instead of make_timestamp, which nulls on overflow
      def part(n: String, dflt: Int): Column =
        opt(field(spec, n)).map(compile(_).cast(IntegerType)).getOrElse(lit(dflt))
      val base = make_date(compile(field(spec, "year")).cast(IntegerType),
        lit(1), lit(1))
      val day = date_add(add_months(base, part("month", 1) - 1),
        part("day", 1) - 1)
      timestamp_millis(unix_millis(to_timestamp(day)) +
        part("hour", 0).cast(LongType) * 3600000L +
        part("minute", 0).cast(LongType) * 60000L +
        part("second", 0).cast(LongType) * 1000L +
        part("millisecond", 0).cast(LongType))
    case "$dateAdd" =>
      compile(field(spec, "startDate")) +
        interval(str(field(spec, "unit")), compile(field(spec, "amount")))
    case "$dateSubtract" =>
      compile(field(spec, "startDate")) -
        interval(str(field(spec, "unit")), compile(field(spec, "amount")))
    case "$dateDiff" =>
      val s = compile(field(spec, "startDate"))
      val e = compile(field(spec, "endDate"))
      // Sunday-start week buckets (Mongo's default startOfWeek): epoch day
      // 0 is a Thursday, so (epochDay + 4) / 7 floors to the week index
      def weekIdx(c: Column): Column = {
        val d = datediff(c.cast(DateType), to_date(lit("1970-01-01"))) + 4
        floor(d / lit(7.0)).cast(LongType)
      }
      str(field(spec, "unit")) match {
        case "day"    => datediff(e.cast(DateType), s.cast(DateType)).cast(LongType)
        case "week"   => weekIdx(e) - weekIdx(s)
        case "hour"   => floor((e.cast(LongType) - s.cast(LongType)) / 3600L)
        case "minute" => floor((e.cast(LongType) - s.cast(LongType)) / 60L)
        case "second" => (e.cast(LongType) - s.cast(LongType))
        case "millisecond" => unix_millis(e.cast(TimestampType)) -
          unix_millis(s.cast(TimestampType))
        case "year"   => (year(e) - year(s)).cast(LongType)
        case "quarter" => ((year(e) - year(s)) * 4 +
          (quarter(e) - quarter(s))).cast(LongType)
        case "month"  => ((year(e) - year(s)) * 12 + (month(e) - month(s))).cast(LongType)
        case other    => throw new IllegalArgumentException(s"$$dateDiff unit $other")
      }

    // ---- misc -------------------------------------------------------------
    case "$literal" => literal(spec)
    case "$meta" => spec match {
      // Atlas surfaces the $vectorSearch score only through $meta; the
      // stage leaves it in the hidden __vsScore column
      case JString("vectorSearchScore") => col("__vsScore")
      // $rankFusion leaves its fused score in the hidden __score column
      case JString("score") => col("__score")
      // $search leaves its BM25 relevance in __searchScore
      case JString("searchScore") => col("__searchScore")
      case other => throw new IllegalArgumentException(s"$$meta: $other")
    }
    case "$let" =>
      val bound = (field(spec, "vars"): @unchecked) match {
        case JObject(vs) =>
          vs.foldLeft(ctx) { case (c, (name, e)) => c.bind(name, compile(e)(c)) }
      }
      compile(field(spec, "in"))(bound)

    case other => throw new IllegalArgumentException(s"unsupported operator $other")
  }

  private def trimOp(spec: JValue, f: (Column, Option[String]) => Column)
      (implicit ctx: ExprCtx): Column = {
    val in = compile(field(spec, "input"))
    val chars = opt(field(spec, "chars")).map(str)
    f(in, chars)
  }

  /** `locate` with a dynamic substring/position (functions.locate needs literals). */
  private def locate_dyn(sub: Column, s: Column, pos: Column): Column =
    call_function("locate", sub, s, pos.cast(IntegerType))
}
