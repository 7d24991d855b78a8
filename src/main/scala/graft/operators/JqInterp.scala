package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import graft.dynamic.DynJson
import graft.dynamic.DynJson._
import JqCompiler._

import scala.jdk.CollectionConverters._

/** jq tree-walk interpreter over Jackson trees with real STREAM semantics —
  * the dynamic-mode engine behind `$jq` (Jq.java:16-33 runs jackson-jq).
  * Every expression evaluates to a LIST of outputs: `.[]` iterates, `,`
  * concatenates, pipes flatMap, binary operators and object constructors
  * take cartesian products, `select` emits nothing on false — exactly the
  * jq execution model the static Column subset cannot express. User `def`s
  * are call-by-name (params substitute as filters) and may recurse
  * (depth-capped).
  */
object JqInterp {

  private val MaxDepth = 500

  final case class Env(vars: Map[String, JsonNode], defs: Map[String, JqDef],
      params: Map[String, (Jq, Env)], depth: Int) {
    def deeper: Env = {
      if (depth >= MaxDepth)
        throw new IllegalStateException(s"jq recursion depth > $MaxDepth")
      copy(depth = depth + 1)
    }
  }

  private val emptyEnv = Env(Map.empty, Map.empty, Map.empty, 0)

  def run(src: String, doc: JsonNode): List[JsonNode] =
    eval(JqCompiler.parse(src), doc, emptyEnv)

  /** Compile once, evaluate per document. */
  def compiled(src: String): JsonNode => List[JsonNode] = {
    val ast = JqCompiler.parse(src)
    doc => eval(ast, doc, emptyEnv)
  }

  /** jq truthiness: only null, false (and missing) are falsy. */
  def truthy(v: JsonNode): Boolean =
    !(isMissing(v) || v.isNull || (v.isBoolean && !v.booleanValue))

  private def stepAll(vs: List[JsonNode], s: JStep): List[JsonNode] = s match {
    case JField(name) =>
      vs.map(v => if (v.isObject) missingToNull(v.path(name))
        else if (v.isNull || isMissing(v)) NULL
        else throw new IllegalArgumentException(
          s"cannot index ${v.getNodeType} with '$name'"))
    case JIndex(i) =>
      vs.map { v =>
        if (!v.isArray) NULL
        else {
          val n = v.size
          val j = if (i < 0) n + i else i
          if (j < 0 || j >= n) NULL else v.get(j.toInt)
        }
      }
    case JIterate =>
      vs.flatMap { v =>
        if (v.isArray) v.elements.asScala.toList
        else if (v.isObject) v.properties.asScala.toList.map(_.getValue)
        else throw new IllegalArgumentException(
          s"cannot iterate over ${v.getNodeType}")
      }
  }

  def eval(ast: Jq, in: JsonNode, env: Env): List[JsonNode] = ast match {
    case JLit(null)       => List(NULL)
    case JLit(b: Boolean) => List(bool(b))
    case JLit(l: Long)    => List(long(l))
    case JLit(d: Double)  => List(double(d))
    case JLit(s: String)  => List(text(s))
    // interpolation: strings verbatim, other values JSON-encoded; multiple
    // outputs of an embedded expression fan out as a cross product (jq rule)
    case JStrI(parts) =>
      parts.foldLeft(List(new StringBuilder)) { (acc, part) =>
        part match {
          case Left(s)  => acc.foreach(_.append(s)); acc
          case Right(e) =>
            for (sb <- acc; v <- eval(e, in, env)) yield new StringBuilder(
              sb.toString + (if (v.isTextual) v.textValue else DynJson.canonical(v)))
        }
      }.map(sb => text(sb.toString): JsonNode)
    case JLit(o)          => throw new JqCompileError(s"bad literal $o")

    case JPath(steps) => steps.foldLeft(List(in))(stepAll)

    case JVar(n) =>
      env.vars.get(n) match {
        case Some(v) => List(v)
        case None => env.params.get(n) match {
          case Some((arg, argEnv)) => eval(arg, in, argEnv.deeper)
          case None => throw new JqCompileError(s"undefined variable $$$n")
        }
      }

    case JObjC(pairs) =>
      // cartesian product over each pair's KEY and value outputs (jq rule);
      // a computed key must evaluate to a string
      pairs.foldLeft(List(obj())) { case (acc, (k, vAst)) =>
        val keys: List[String] = k match {
          case JqCompiler.KLit(name) => List(name)
          case JqCompiler.KExpr(ke) => eval(ke, in, env).map { kv =>
            if (kv != null && kv.isTextual) kv.textValue
            else throw new JqCompileError(
              s"object key must be a string, got ${if (kv == null) "null" else kv.getNodeType}")
          }
        }
        for (o <- acc; key <- keys; v <- eval(vAst, in, env)) yield {
          val o2 = o.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          o2.set[JsonNode](key, missingToNull(v))
          o2
        }
      }

    case JArrC(items) =>
      val a = arr()
      items.flatMap(eval(_, in, env)).foreach(v => a.add(missingToNull(v)))
      List(a)

    case JPipe(l, r) =>
      eval(l, in, env).flatMap(v => eval(r, v, env))

    case JComma(l, r) => eval(l, in, env) ++ eval(r, in, env)

    case JIf(c, t, f) =>
      eval(c, in, env).flatMap(cv =>
        if (truthy(cv)) eval(t, in, env) else eval(f, in, env))

    case JSelect(c) =>
      eval(c, in, env).flatMap(cv => if (truthy(cv)) List(in) else Nil)

    case JAs(src, name, body) =>
      eval(src, in, env).flatMap(v =>
        eval(body, in, env.copy(vars = env.vars + (name -> v))))

    case JReduce(src, name, init, update) =>
      val xs = eval(src, in, env)
      val init0 = eval(init, in, env) match {
        case v :: _ => v
        case Nil    => NULL
      }
      List(xs.foldLeft(init0) { (acc, x) =>
        eval(update, acc, env.copy(vars = env.vars + (name -> x))) match {
          case v :: _ => v
          case Nil    => NULL
        }
      })

    case JDefs(ds, body) =>
      eval(body, in, env.copy(defs = env.defs ++ ds.map(d => d.name -> d)))

    case JBin(op, lAst, rAst) =>
      op match {
        case "//" =>
          val lv = eval(lAst, in, env).filter(truthy)
          if (lv.nonEmpty) lv else eval(rAst, in, env)
        case "and" =>
          for (l <- eval(lAst, in, env); r <- eval(rAst, in, env))
            yield bool(truthy(l) && truthy(r))
        case "or" =>
          for (l <- eval(lAst, in, env); r <- eval(rAst, in, env))
            yield bool(truthy(l) || truthy(r))
        case _ =>
          for (l <- eval(lAst, in, env); r <- eval(rAst, in, env))
            yield binOp(op, l, r)
      }

    case JCall(fn, args) => call(fn, args, in, env)
  }

  /** jq's total order: null < false < true < numbers < strings < arrays
    * < objects. */
  private[operators] def jqCmp(l: JsonNode, r: JsonNode): Int = {
    def rank(v: JsonNode): Int =
      if (v.isNull || isMissing(v)) 0
      else if (v.isBoolean) { if (v.booleanValue) 2 else 1 }
      else if (v.isNumber) 3
      else if (v.isTextual) 4
      else if (v.isArray) 5
      else 6
    val (rl, rr) = (rank(l), rank(r))
    if (rl != rr) Integer.compare(rl, rr)
    else if (l.isNumber) java.lang.Double.compare(l.doubleValue, r.doubleValue)
    else if (l.isTextual) l.textValue.compareTo(r.textValue)
    else if (l.isArray) {
      val (la, ra) = (l.elements.asScala.toSeq, r.elements.asScala.toSeq)
      la.zip(ra).iterator.map { case (a, b) => jqCmp(a, b) }
        .find(_ != 0).getOrElse(Integer.compare(la.size, ra.size))
    } else DynJson.canonical(l).compareTo(DynJson.canonical(r))
  }

  /** Named groups `(?<name>...)` in source order. Java 17's Pattern does
    * not expose its name set, so scan the pattern text (skipping escapes
    * and character classes, where `(` is literal). */
  private def regexGroupNames(pattern: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    var inClass = false
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' => i += 1
        case '[' if !inClass => inClass = true
        case ']' if inClass  => inClass = false
        case '(' if !inClass && pattern.regionMatches(i, "(?<", 0, 3) &&
             i + 3 < pattern.length && pattern.charAt(i + 3) != '=' &&
             pattern.charAt(i + 3) != '!' =>
          val end = pattern.indexOf('>', i + 3)
          if (end > 0) { out += pattern.substring(i + 3, end); i = end }
        case _ =>
      }
      i += 1
    }
    out.toList
  }

  private def captureObject(m: java.util.regex.Matcher,
                            names: List[String]): JsonNode = {
    val o = obj()
    names.foreach { n =>
      val g = m.group(n)
      o.set[JsonNode](n, if (g == null) NULL else text(g))
    }
    o
  }

  private def jEq(l: JsonNode, r: JsonNode): Boolean =
    if (l.isNumber && r.isNumber) l.doubleValue == r.doubleValue
    else missingToNull(l) == missingToNull(r)

  private def binOp(op: String, l: JsonNode, r: JsonNode): JsonNode = op match {
    case "==" => bool(jEq(l, r))
    case "!=" => bool(!jEq(l, r))
    case "<"  => bool(jqCmp(l, r) < 0)
    case "<=" => bool(jqCmp(l, r) <= 0)
    case ">"  => bool(jqCmp(l, r) > 0)
    case ">=" => bool(jqCmp(l, r) >= 0)
    case "+" =>
      if (l.isNull && r.isNull) NULL
      else if (l.isNull) r else if (r.isNull) l
      else if (l.isNumber && r.isNumber)
        num(l.doubleValue + r.doubleValue, isIntegral(l) && isIntegral(r))
      else if (l.isTextual && r.isTextual) text(l.textValue + r.textValue)
      else if (l.isArray && r.isArray) {
        val a = arr(); a.addAll(l.asInstanceOf[ArrayNode])
        a.addAll(r.asInstanceOf[ArrayNode]); a
      } else if (l.isObject && r.isObject) {
        // jq object +: RIGHT wins
        val o = obj()
        o.setAll[com.fasterxml.jackson.databind.node.ObjectNode](
          l.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        o.setAll[com.fasterxml.jackson.databind.node.ObjectNode](
          r.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
        o
      } else throw new IllegalArgumentException(
        s"${l.getNodeType} and ${r.getNodeType} cannot be added")
    case "-" | "*" | "/" | "%" =>
      if (!l.isNumber || !r.isNumber) throw new IllegalArgumentException(
        s"${l.getNodeType} and ${r.getNodeType}: arithmetic needs numbers")
      else op match {
        case "-" => num(l.doubleValue - r.doubleValue, isIntegral(l) && isIntegral(r))
        case "*" => num(l.doubleValue * r.doubleValue, isIntegral(l) && isIntegral(r))
        case "%" => long(l.longValue % r.longValue) // jq % is integral
        case _ =>
          val d = l.doubleValue / r.doubleValue
          // jq keeps integral results integral when cleanly divisible
          num(d, isIntegral(l) && isIntegral(r) && r.doubleValue != 0 &&
            l.longValue % r.longValue == 0)
      }
    case o => throw new JqCompileError(s"operator $o")
  }

  private def call(fn: String, args: List[Jq], in: JsonNode, env: Env): List[JsonNode] = {
    def a1: List[JsonNode] = eval(args.head, in, env)
    fn match {
      case "length" =>
        List(
          if (in.isTextual) long(in.textValue.length.toLong)
          else if (in.isArray || in.isObject) long(in.size.toLong)
          else if (in.isNull) long(0L)
          else if (in.isNumber) num(math.abs(in.doubleValue), isIntegral(in))
          else throw new IllegalArgumentException(s"length of ${in.getNodeType}"))
      case "keys" =>
        val a = arr()
        in.properties.asScala.map(_.getKey).toSeq.sorted.foreach(k => a.add(text(k)))
        List(a)
      case "values" =>
        val a = arr()
        in.properties.asScala.foreach(e => a.add(e.getValue))
        List(a)
      case "has"  => a1.map(k => bool(
        (in.isObject && k.isTextual && in.has(k.textValue)) ||
        (in.isArray && k.isNumber && k.intValue >= 0 && k.intValue < in.size)))
      case "ascii_downcase" => List(text(in.textValue.toLowerCase))
      case "ascii_upcase"   => List(text(in.textValue.toUpperCase))
      case "tostring" => List(if (in.isTextual) in else text(DynJson.canonical(in)))
      case "tonumber" =>
        List(
          if (in.isNumber) in
          else {
            val s = in.textValue
            if (s.contains('.') || s.contains('e') || s.contains('E')) double(s.toDouble)
            else long(s.toLong)
          })
      case "floor" => List(long(math.floor(in.doubleValue).toLong))
      case "ceil"  => List(long(math.ceil(in.doubleValue).toLong))
      case "round" => List(long(math.round(in.doubleValue)))
      case "fabs" | "abs" =>
        List(num(math.abs(in.doubleValue), isIntegral(in)))
      case "not" => List(bool(!truthy(in)))
      case "empty" => Nil
      case "error" => throw new IllegalStateException(
        a1.headOption.map(v => if (v.isTextual) v.textValue else render(v))
          .getOrElse(render(in)))
      case "type" => List(text(
        if (in.isNull || isMissing(in)) "null"
        else if (in.isBoolean) "boolean"
        else if (in.isNumber) "number"
        else if (in.isTextual) "string"
        else if (in.isArray) "array" else "object"))
      case "map" =>
        val a = arr()
        in.elements.asScala.flatMap(x => eval(args.head, x, env))
          .foreach(v => a.add(missingToNull(v)))
        List(a)
      case "join" =>
        a1.map(sep => text(in.elements.asScala
          .map(x => if (x.isNull) "" else if (x.isTextual) x.textValue
            else DynJson.canonical(x))
          .mkString(sep.textValue)))
      case "split" =>
        a1.map { sep =>
          val a = arr()
          in.textValue.split(java.util.regex.Pattern.quote(sep.textValue), -1)
            .foreach(p => a.add(text(p)))
          a
        }
      case "add" =>
        val xs = in.elements.asScala.toList
        List(if (xs.isEmpty) NULL else xs.reduce(binOp("+", _, _)))
      case "min" =>
        val xs = in.elements.asScala.toList
        List(if (xs.isEmpty) NULL else xs.minBy(identity[JsonNode])(Ordering.fromLessThan(jqCmp(_, _) < 0)))
      case "max" =>
        val xs = in.elements.asScala.toList
        List(if (xs.isEmpty) NULL else xs.maxBy(identity[JsonNode])(Ordering.fromLessThan(jqCmp(_, _) < 0)))
      case "first" => List(if (in.isArray && in.size > 0) in.get(0) else NULL)
      case "last"  => List(if (in.isArray && in.size > 0) in.get(in.size - 1) else NULL)
      case "reverse" =>
        val a = arr()
        in.elements.asScala.toList.reverse.foreach(a.add)
        List(a)
      case "sort" =>
        val a = arr()
        in.elements.asScala.toList.sortWith(jqCmp(_, _) < 0).foreach(a.add)
        List(a)
      case "unique" =>
        val a = arr()
        in.elements.asScala.toList.sortWith(jqCmp(_, _) < 0)
          .foldLeft(List.empty[JsonNode]) { (acc, x) =>
            if (acc.nonEmpty && jEq(acc.head, x)) acc else x :: acc
          }.reverse.foreach(a.add)
        List(a)
      case "test" => // Java regex, not Oniguruma — the common subset agrees
        a1.map(re => bool(java.util.regex.Pattern.compile(re.textValue)
          .matcher(in.textValue).find()))
      case "sub" | "gsub" =>
        // jq: the replacement FILTER runs with the named-capture object as
        // its input ("\(.name)" interpolation); multiple replacement
        // outputs fan out as a cross product across matches, like jq
        if (!in.isTextual) List(in)
        else a1.flatMap { re =>
          val pat = java.util.regex.Pattern.compile(re.textValue)
          val names = regexGroupNames(re.textValue)
          val s = in.textValue
          val m = pat.matcher(s)
          val found = scala.collection.mutable.ListBuffer
            .empty[(Int, Int, JsonNode)]
          while (m.find() && (fn == "gsub" || found.isEmpty)) {
            found += ((m.start, m.end, captureObject(m, names)))
            // zero-width match: step forward so gsub terminates, like jq
            if (m.end == m.start && m.end < s.length) m.region(m.end + 1, s.length)
            else if (m.end == m.start) m.region(s.length, s.length)
          }
          found.foldLeft(List(("", 0))) { case (acc, (st, en, caps)) =>
            for {
              (prefix, pos) <- acc
              r <- eval(args(1), caps, env)
            } yield {
              if (!r.isTextual) throw new IllegalArgumentException(
                s"$fn replacement must be a string, got ${r.getNodeType}")
              (prefix + s.substring(pos, st) + r.textValue, en)
            }
          }.map { case (prefix, pos) => text(prefix + s.substring(pos)): JsonNode }
        }
      case "capture" => // named captures of the FIRST match; no match => empty
        if (!in.isTextual) Nil
        else a1.flatMap { re =>
          val m = java.util.regex.Pattern.compile(re.textValue).matcher(in.textValue)
          if (m.find()) List(captureObject(m, regexGroupNames(re.textValue))) else Nil
        }
      case "match" => // jq match object: offset/length/string/captures
        if (!in.isTextual) Nil
        else a1.flatMap { re =>
          val names = regexGroupNames(re.textValue)
          val m = java.util.regex.Pattern.compile(re.textValue).matcher(in.textValue)
          if (!m.find()) Nil else List {
            val o = obj()
            o.set[JsonNode]("offset", long(m.start.toLong))
            o.set[JsonNode]("length", long((m.end - m.start).toLong))
            o.set[JsonNode]("string", text(m.group))
            val caps = arr()
            names.foreach { n =>
              val c = obj()
              val g = m.group(n)
              c.set[JsonNode]("name", text(n))
              c.set[JsonNode]("string", if (g == null) NULL else text(g))
              caps.add(c)
            }
            o.set[JsonNode]("captures", caps)
            o
          }
        }
      case "ltrimstr" =>
        a1.map(p => if (in.isTextual && p.isTextual && in.textValue.startsWith(p.textValue))
          text(in.textValue.stripPrefix(p.textValue)) else in)
      case "rtrimstr" =>
        a1.map(p => if (in.isTextual && p.isTextual && in.textValue.endsWith(p.textValue))
          text(in.textValue.stripSuffix(p.textValue)) else in)
      case "range" =>
        val ends = a1
        ends.flatMap(e => (0L until e.longValue).map(long).toList)
      case "to_entries" =>
        val a = arr()
        in.properties.asScala.foreach { e =>
          val o = obj()
          o.set[JsonNode]("key", text(e.getKey))
          o.set[JsonNode]("value", e.getValue)
          a.add(o)
        }
        List(a)
      case "from_entries" =>
        val o = obj()
        in.elements.asScala.foreach { e =>
          val k = if (e.has("key")) e.path("key") else e.path("name")
          o.set[JsonNode](if (k.isTextual) k.textValue else DynJson.canonical(k),
            missingToNull(e.path("value")))
        }
        List(o)
      case other =>
        // user def (call-by-name params), then param-as-filter reference
        env.params.get(other) match {
          case Some((arg, argEnv)) if args.isEmpty =>
            eval(arg, in, argEnv.deeper)
          case _ =>
            env.defs.get(other) match {
              case Some(d) =>
                if (d.params.length != args.length) throw new JqCompileError(
                  s"$other expects ${d.params.length} arguments, got ${args.length}")
                val bound = d.params.zip(args.map(a => (a, env))).toMap
                eval(d.body, in, env.deeper.copy(params = env.params ++ bound))
              case None => throw new JqCompileError(s"unsupported function: $other")
            }
        }
    }
  }

  private def render(n: JsonNode): String = DynJson.render(missingToNull(n))
}
