package graft.dynamic

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ArrayNode
import org.json4s._

import scala.jdk.CollectionConverters._

/** Mongo query-language compiler for the DYNAMIC document mode: a json4s
  * filter spec compiles ONCE (driver side) to a serializable predicate over
  * Jackson trees. Typed twin: [[graft.mongo.MongoMatch]] (spec → Catalyst
  * filter Column). The reference delegates to pincette-mongo's `Match`
  * (Match.java via Pipeline.java:273); semantics re-derived from MongoDB's
  * documented query language:
  *
  *  - implicit equality uses Mongo deep equality (1 == 1.0, array structural)
  *  - a predicate on a path whose value is an array matches if the ARRAY
  *    matches or ANY ELEMENT matches (Mongo's implicit array traversal)
  *  - comparison operators only match values in the same type bracket
  *    (numbers with numbers, strings with strings) — unlike the aggregation
  *    expression $gt, which uses the cross-type total order
  *  - $exists is about presence, not null-ness
  */
object DynMatch {

  import DynJson._

  sealed trait DPred extends Serializable { def test(ctx: DynExpr.DCtx): Boolean }

  private final case class PAnd(ps: List[DPred]) extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean = ps.forall(_.test(ctx))
  }
  private final case class POr(ps: List[DPred]) extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean = ps.exists(_.test(ctx))
  }
  private final case class PNot(p: DPred) extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean = !p.test(ctx)
  }
  private final case class PExpr(op: DynExpr.DOp) extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean = truthy(op.eval(ctx))
  }
  /** `$sampleRate`: keep each doc independently with probability p. */
  private final case class PSample(p: Double) extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean =
      java.util.concurrent.ThreadLocalRandom.current().nextDouble() < p
  }

  /** One field condition: resolve the path, then "value or any element". */
  private final case class PField(segs: List[String], cond: VCond, elemWise: Boolean)
    extends DPred {
    def test(ctx: DynExpr.DCtx): Boolean = {
      val v = DynExpr.resolve(ctx.doc, segs)
      if (cond.test(v)) true
      else if (elemWise && v.isArray) v.asInstanceOf[ArrayNode].asScala.exists(cond.test)
      else false
    }
  }

  /** A condition over one resolved value. */
  sealed trait VCond extends Serializable { def test(v: JsonNode): Boolean }

  private final case class VEq(json: String) extends VCond {
    @transient private lazy val target: JsonNode = parse(json)
    def test(v: JsonNode): Boolean =
      if (target.isNull) isMissing(v) || v.isNull else deepEq(v, target)
  }
  private final case class VCmp(json: String, dir: Int, orEq: Boolean) extends VCond {
    @transient private lazy val target: JsonNode = parse(json)
    def test(v: JsonNode): Boolean = {
      if (isMissing(v)) return false
      // same type bracket only (query-language comparison semantics)
      if (typeRank(v) != typeRank(target)) return false
      val c = compare(v, target)
      (c == 0 && orEq) || Integer.signum(c) == dir
    }
  }
  private final case class VIn(jsons: List[String], negate: Boolean) extends VCond {
    @transient private lazy val targets: List[JsonNode] = jsons.map(parse)
    def test(v: JsonNode): Boolean = {
      val hit = targets.exists(t =>
        if (t.isNull) isMissing(v) || v.isNull else deepEq(v, t))
      if (negate) !hit else hit
    }
  }
  private final case class VExists(expected: Boolean) extends VCond {
    def test(v: JsonNode): Boolean = !isMissing(v) == expected
  }
  private final case class VType(names: List[String]) extends VCond {
    def test(v: JsonNode): Boolean = {
      if (isMissing(v)) return false
      val n = typeName(v)
      names.exists {
        case "number"         => v.isNumber
        case "int" | "long"   => v.isIntegralNumber
        case "double"         => n == "double"
        case other            => other == n
      }
    }
  }
  private final case class VRegex(pattern: String, flags: String) extends VCond {
    @transient private lazy val re: java.util.regex.Pattern = {
      var f = 0
      if (flags.contains("i")) f |= java.util.regex.Pattern.CASE_INSENSITIVE
      if (flags.contains("m")) f |= java.util.regex.Pattern.MULTILINE
      if (flags.contains("s")) f |= java.util.regex.Pattern.DOTALL
      if (flags.contains("x")) f |= java.util.regex.Pattern.COMMENTS
      java.util.regex.Pattern.compile(pattern, f)
    }
    def test(v: JsonNode): Boolean = v.isTextual && re.matcher(v.textValue).find
  }
  private final case class VSize(n: Int) extends VCond {
    def test(v: JsonNode): Boolean = v.isArray && v.size == n
  }
  private final case class VMod(div: Long, rem: Long) extends VCond {
    def test(v: JsonNode): Boolean = v.isNumber && v.longValue % div == rem
  }
  private final case class VAll(jsons: List[String]) extends VCond {
    @transient private lazy val targets: List[JsonNode] = jsons.map(parse)
    def test(v: JsonNode): Boolean = v match {
      case a: ArrayNode => targets.forall(t => a.asScala.exists(deepEq(_, t)))
      case single       => targets.forall(deepEq(single, _)) // Mongo: non-array matches singleton $all
    }
  }
  private final case class VElemMatch(p: DPred, scalarConds: List[VCond]) extends VCond {
    def test(v: JsonNode): Boolean = v match {
      case a: ArrayNode =>
        a.asScala.exists { el =>
          if (scalarConds.nonEmpty) scalarConds.forall(_.test(el))
          else el.isObject && p.test(DynExpr.DCtx(el, Map.empty))
        }
      case _ => false
    }
  }
  private final case class VNot(c: VCond) extends VCond {
    def test(v: JsonNode): Boolean = !c.test(v)
  }
  private final case class VAndC(cs: List[VCond]) extends VCond {
    def test(v: JsonNode): Boolean = cs.forall(_.test(v))
  }

  // ---- compile ----------------------------------------------------------------

  def compile(spec: JValue): DPred = spec match {
    case JObject(fields) => PAnd(fields.map((compileField _).tupled))
    case other => throw new IllegalArgumentException(s"$$match spec must be an object: $other")
  }

  private def renderJ(v: JValue): String =
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(v))

  private def compileField(key: String, value: JValue): DPred = key match {
    case "$and" => value match {
      case JArray(items) => PAnd(items.map(compile))
      case other         => throw new IllegalArgumentException(s"$$and: $other")
    }
    case "$or" => value match {
      case JArray(items) => POr(items.map(compile))
      case other         => throw new IllegalArgumentException(s"$$or: $other")
    }
    case "$nor" => value match {
      case JArray(items) => PNot(POr(items.map(compile)))
      case other         => throw new IllegalArgumentException(s"$$nor: $other")
    }
    case "$expr" => PExpr(DynExpr.compile(value))
    case "$sampleRate" => value match {
      case JDouble(p) => PSample(p)
      case JInt(p)    => PSample(p.toDouble)
      case other => throw new IllegalArgumentException(s"$$sampleRate: $other")
    }
    case "$comment" => PAnd(Nil)
    case path =>
      val segs = path.split('.').toList
      value match {
        case JObject(ops) if ops.nonEmpty && ops.forall(_._1.startsWith("$")) =>
          // operator object: all conditions AND'ed over the same path
          val conds = ops.map { case (op, arg) => compileOp(op, arg, ops.toMap) }
          PAnd(conds.flatten.map {
            case c @ (VExists(_) | VSize(_)) => PField(segs, c, elemWise = false)
            case c                           => PField(segs, c, elemWise = true)
          })
        case literal =>
          PField(segs, VEq(renderJ(literal)), elemWise = true)
      }
  }

  /** One operator inside a `{path: {$op: …}}` object. Returns None for
    * auxiliary keys consumed by a sibling (e.g. `$options`). */
  private def compileOp(op: String, arg: JValue, siblings: Map[String, JValue]): Option[VCond] =
    op match {
      case "$eq"  => Some(VEq(renderJ(arg)))
      case "$ne"  => Some(VNot(VEq(renderJ(arg))))
      case "$gt"  => Some(VCmp(renderJ(arg), 1, orEq = false))
      case "$gte" => Some(VCmp(renderJ(arg), 1, orEq = true))
      case "$lt"  => Some(VCmp(renderJ(arg), -1, orEq = false))
      case "$lte" => Some(VCmp(renderJ(arg), -1, orEq = true))
      case "$in" => arg match {
        case JArray(items) => Some(VIn(items.map(renderJ), negate = false))
        case other         => throw new IllegalArgumentException(s"$$in: $other")
      }
      case "$nin" => arg match {
        case JArray(items) => Some(VIn(items.map(renderJ), negate = true))
        case other         => throw new IllegalArgumentException(s"$$nin: $other")
      }
      case "$exists" => Some(VExists(arg match {
        case JBool(b) => b
        case JInt(i)  => i != 0
        case _        => true
      }))
      case "$type" => Some(VType(arg match {
        case JString(s)    => List(s)
        case JArray(items) => items.collect { case JString(s) => s }
        case other         => throw new IllegalArgumentException(s"$$type: $other")
      }))
      case "$regex" =>
        val flags = siblings.get("$options") match {
          case Some(JString(f)) => f
          case _                => ""
        }
        arg match {
          case JString(p) => Some(VRegex(p, flags))
          case other      => throw new IllegalArgumentException(s"$$regex: $other")
        }
      case "$options" => None // consumed by $regex
      case "$size" => arg match {
        case JInt(n) => Some(VSize(n.toInt))
        case other   => throw new IllegalArgumentException(s"$$size: $other")
      }
      case "$mod" => arg match {
        case JArray(List(d, r)) =>
          def lng(j: JValue): Long = j match {
            case JInt(i)    => i.toLong
            case JLong(l)   => l
            case JDouble(x) => x.toLong
            case other      => throw new IllegalArgumentException(s"$$mod arg: $other")
          }
          Some(VMod(lng(d), lng(r)))
        case other => throw new IllegalArgumentException(s"$$mod: $other")
      }
      case "$all" => arg match {
        case JArray(items) => Some(VAll(items.map(renderJ)))
        case other         => throw new IllegalArgumentException(s"$$all: $other")
      }
      case "$elemMatch" => arg match {
        case o @ JObject(fields) =>
          // scalar-operator form ({$gt: 5}) vs sub-document form ({a: 1})
          if (fields.nonEmpty && fields.forall(_._1.startsWith("$")))
            Some(VElemMatch(PAnd(Nil),
              fields.flatMap { case (o2, a2) => compileOp(o2, a2, fields.toMap) }))
          else Some(VElemMatch(compile(o), Nil))
        case other => throw new IllegalArgumentException(s"$$elemMatch: $other")
      }
      case "$not" => arg match {
        case JObject(ops) =>
          Some(VNot(VAndC(ops.flatMap { case (o2, a2) => compileOp(o2, a2, ops.toMap) })))
        case other => throw new IllegalArgumentException(s"$$not: $other")
      }
      case other =>
        throw new IllegalArgumentException(
          s"dynamic mode: unsupported query operator $other")
    }
}
