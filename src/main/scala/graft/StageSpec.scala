package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one stage front-end shared by the typed ([[Pipeline]]) and dynamic
  * ([[graft.dynamic.DynPipeline]]) engines, and by the streaming split: a
  * pipeline `JValue` parses ONCE into `List[Stage]` on the driver, with the
  * envelope checked and every non-expression argument validated into a
  * typed case class, before either back-end builds a plan. Both engines
  * therefore raise the same `IllegalArgumentException` for the same
  * malformed spec. Expression-valued fields stay `JValue`: each engine
  * compiles them with its own compiler (MongoExpr/MongoMatch or
  * DynExpr/DynMatch). Stages without typed arguments carry [[Raw]].
  *
  * The [[table]] is the single stage classification (the reference keeps
  * its stage map in one place too, Pipeline.java:231-276).
  */
object StageSpec {

  // ---- the stage table ------------------------------------------------------

  sealed trait Kind
  /** Per-document, no shuffle: fused by the dynamic engine, native on streams. */
  case object Local extends Kind
  /** Per-document but with an external effect: fused by the dynamic engine,
    * yet a stream splits before it like before a sink. */
  case object LocalEffect extends Kind
  /** Needs its own plan step (shuffle, join, pacing); native on streams. */
  case object Barrier extends Kind
  /** Writes outside the pipeline; a stream runs it per micro-batch. */
  case object Sink extends Kind
  /** Not expressible on an unbounded stream; runs per micro-batch there. */
  case object BatchOnly extends Kind

  /** @param scores  plants hidden score fields read back by `$meta`
    * @param fusions the fusion stages whose input pipelines may hold it */
  final case class Info(kind: Kind, scores: Boolean = false,
      fusions: Set[String] = Set.empty) {
    def splitsStream: Boolean = kind == LocalEffect || kind == Sink || kind == BatchOnly
    def fusable: Boolean = kind == Local || kind == LocalEffect
  }

  private val bothFusions = Set("$rankFusion", "$scoreFusion")

  val table: Map[String, Info] = {
    def all(kind: Kind, names: String*) = names.map(_ -> Info(kind))
    Map(all(Local, "$addFields", "$set", "$project", "$unset", "$replaceWith",
        "$replaceRoot", "$unwind", "$redact", "$setKey", "$jslt", "$jq",
        "$trace", "$backTrace"): _*) ++
      all(LocalEffect, "$http") ++
      all(Barrier, "$group", "$count", "$bucket", "$deduplicate", "$throttle",
        "$lookup") ++
      all(Sink, "$merge", "$out", "$delete", "$send", "$delay", "$probe",
        "$per") ++
      all(BatchOnly, "$setWindowFields", "$fill", "$densify", "$sortByCount",
        "$unionWith", "$facet", "$graphLookup", "$bucketAuto", "$documents",
        "$geoNear") ++
      Map(
        "$match" -> Info(Local, fusions = bothFusions),
        "$score" -> Info(Barrier, scores = true, fusions = Set("$scoreFusion")),
        "$search" -> Info(BatchOnly, scores = true, fusions = bothFusions),
        "$vectorSearch" -> Info(BatchOnly, scores = true, fusions = bothFusions)) ++
      Seq("$sort", "$limit", "$skip", "$sample")
        .map(_ -> Info(BatchOnly, fusions = bothFusions)) ++
      Seq("$rankFusion", "$scoreFusion").map(_ -> Info(BatchOnly, scores = true))
  }

  /** The table entry; unknown names (extensions, ignored stages) are local. */
  def info(name: String): Info = table.getOrElse(name, Info(Local))

  // ---- parsed stages ----------------------------------------------------------

  /** One parsed `{"$stage": spec}`: `trace` is the reference's stage-level
    * `_trace: true` (Pipeline.java:332); `spec` is the raw argument, `args`
    * its validated form. */
  final case class Stage(name: String, index: Int, trace: Boolean,
      spec: JValue, args: Args) {
    def info: Info = StageSpec.info(name)
  }

  sealed trait Args extends Serializable
  /** Stages whose arguments each engine reads itself. */
  case object Raw extends Args

  /** `path` without its leading `$`. */
  final case class Unwind(path: String, includeArrayIndex: Option[String],
      preserveNullAndEmptyArrays: Boolean, newIds: Boolean) extends Args
  /** One `$group` accumulator: `input` is the expression (`output` for the
    * `$top` family), `n`/`ps`/`sortBy` the structured extras. */
  final case class Acc(field: String, op: String, input: JValue, n: Int = 1,
      ps: List[Double] = Nil, sortBy: List[(String, Boolean)] = Nil)
  /** `$group`, and the `$bucket` / `$count` sugar over it. An empty `accs`
    * is MongoDB's distinct-keys form. `continuous` = `_continuous: true`. */
  final case class Group(id: JValue, accs: List[Acc],
      continuous: Boolean = false) extends Args
  final case class Count(field: String) extends Args
  final case class Sort(keys: List[(String, Boolean)]) extends Args
  final case class Limit(n: Int) extends Args
  final case class Skip(n: Int) extends Args
  final case class Sample(size: Int) extends Args
  /** A window frame: `documents` or `range` bounds with `Long.MinValue` /
    * `Long.MaxValue` for "unbounded" and 0 for "current". */
  final case class Frame(documents: Option[(Long, Long)] = None,
      range: Option[(Long, Long)] = None, unit: Option[String] = None)
  /** One `$setWindowFields` output. `input` is the operator's expression
    * (`output` for `$shift` and the `$top` family, x for covariance with `y`
    * the second one); `unit` is `$derivative`/`$integral`'s own unit. */
  final case class WinOut(field: String, op: String, input: JValue,
      frame: Frame, y: JValue = JNothing, unit: Option[String] = None,
      n: Int = 1, ps: List[Double] = Nil, sortBy: List[(String, Boolean)] = Nil,
      by: Int = 1, default: Option[JValue] = None, alpha: Double = 0d)
  final case class SetWindowFields(partitionBy: Option[JValue],
      sortBy: List[(String, Boolean)], outputs: List[WinOut]) extends Args
  /** `$lookup`: `local` = (localField, foreignField) for the equality form;
    * otherwise the `pipeline` form split at the first let-variable
    * reference into the uncorrelated `prefix`, the correlated `$match`
    * spec, and the per-message `trailing` `$project`/`$sort`/`$limit`. */
  final case class Lookup(from: String, as: String,
      local: Option[(String, String)], let: List[(String, JValue)],
      prefix: List[JValue], correlated: Option[JValue], trailing: List[Stage],
      unwind: Boolean, inner: Boolean, remote: Option[(String, String)],
      rangeJoin: JValue) extends Args
  /** `$merge`/`$out`: `updates` is the `whenMatched` update pipeline. */
  final case class Merge(into: String, on: List[String], whenMatched: String,
      updates: Option[List[(String, JValue)]], whenNotMatched: String,
      key: Option[JValue]) extends Args
  final case class Delete(from: String, on: List[String]) extends Args
  final case class Send(topic: JValue) extends Args
  final case class Delay(topic: JValue, duration: JValue, clock: Option[JValue],
      maxTopics: Int) extends Args
  final case class Probe(name: String, topic: String, clock: Option[JValue])
      extends Args
  final case class Per(amount: Int, as: String) extends Args
  /** `explicit` = `[lo, hi)` bounds: integers, or epoch micros for dates. */
  final case class Densify(field: String, partitionByFields: List[String],
      step: Long, unit: Option[String], bounds: String,
      explicit: Option[(Long, Long)]) extends Args
  final case class Fill(partitionBy: Option[JValue], sortBy: List[(String, Boolean)],
      locf: List[String], linear: List[String], values: List[(String, JValue)])
      extends Args
  final case class Deduplicate(expression: JValue,
      watermark: Option[(String, String)]) extends Args
  /** `$score`: the `score` expression and its normalization. */
  final case class Score(score: JValue, normalization: String) extends Args
  /** `$rankFusion`/`$scoreFusion`: validated input pipelines and weights. */
  final case class Fusion(inputs: List[(String, List[Stage])],
      weights: Map[String, Double], normalization: String) extends Args

  // ---- parsing ---------------------------------------------------------------

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)
  private def show(v: JValue): String =
    if (v == JNothing) "nothing" else JsonMethods.compact(JsonMethods.render(v))

  def parse(pipelineJson: String): List[Stage] = parse(JsonMethods.parse(pipelineJson))

  /** A pipeline is an array of stages; a stage is an object with exactly one
    * `$`-stage key plus an optional boolean `_trace`. */
  def parse(pipeline: JValue): List[Stage] = pipeline match {
    case JArray(stages) => stages.zipWithIndex.map { case (s, i) => stage(s, i) }
    case other => bad(s"pipeline must be an array: ${show(other)}")
  }

  private def stage(v: JValue, index: Int): Stage = v match {
    case JObject(fields) =>
      val (tr, rest) = fields.partition(_._1 == "_trace")
      val trace = tr match {
        case Nil                   => false
        case List((_, JBool(b)))   => b
        case _ => bad(s"bad stage: _trace must be one boolean: ${show(v)}")
      }
      rest match {
        case List((name, spec)) if name.startsWith("$") =>
          Stage(name, index, trace, spec, args(name, spec))
        case _ => bad(s"bad stage: expected exactly one $$-stage key: ${show(v)}")
      }
    case other => bad(s"bad stage: ${show(other)}")
  }

  private def str(v: JValue, what: String): String = v match {
    case JString(s) => s
    case other      => bad(s"$what: expected a string, got ${show(other)}")
  }
  private def optStr(v: JValue, what: String): Option[String] = v match {
    case JNothing   => None
    case JString(s) => Some(s)
    case other      => bad(s"$what: expected a string, got ${show(other)}")
  }
  private def flag(v: JValue, what: String): Boolean = v match {
    case JNothing => false
    case JBool(b) => b
    case other    => bad(s"$what: expected a boolean, got ${show(other)}")
  }
  private def posInt(v: JValue, what: String): Int = v match {
    case JInt(i) if i > 0 && i <= Int.MaxValue => i.toInt
    case other => bad(s"$what: expected a positive integer, got ${show(other)}")
  }
  private def num(v: JValue, what: String): Double = v match {
    case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
    case JDouble(d) => d; case JDecimal(d) => d.toDouble
    case other => bad(s"$what: expected a number, got ${show(other)}")
  }
  private def obj(v: JValue, what: String): List[(String, JValue)] = v match {
    case JObject(fs) => fs
    case other => bad(s"$what: expected an object, got ${show(other)}")
  }
  /** `{field: direction}`: a negative number sorts descending. */
  private def sortKeys(v: JValue, what: String): List[(String, Boolean)] =
    obj(v, what).map { case (f, d) => f -> (d match {
      case JInt(i) => i >= 0; case JLong(l) => l >= 0
      case JDouble(x) => x >= 0; case _ => true
    }) }
  private def onFields(spec: JValue, what: String): List[String] = spec \ "on" match {
    case JNothing   => List("_id")
    case JString(s) => List(s)
    case JArray(xs) => xs.map(str(_, s"$what on"))
    case other      => bad(s"$what on: ${show(other)}")
  }

  private def args(name: String, spec: JValue): Args = name match {
    case "$unwind"  => unwind(spec)
    case "$group"   => group(spec)
    case "$bucket"  => group(bucketToGroup(spec))
    case "$count"   => Count(str(spec, "$count"))
    case "$sort"    => Sort(sortKeys(spec, "$sort"))
    case "$limit"   => Limit(nonNegInt(spec, "$limit"))
    case "$skip"    => Skip(nonNegInt(spec, "$skip"))
    case "$sample"  => Sample(nonNegInt(spec \ "size", "$sample size"))
    case "$setWindowFields" => setWindowFields(spec)
    case "$lookup"  => lookup(spec)
    case "$merge"   => merge(spec)
    case "$out"     => Merge(spec match {
        case JString(s) => s
        case o: JObject => str(o \ "into", "$out into")
        case other      => bad(s"$$out: ${show(other)}")
      }, List("_id"), "replace", None, "insert", None)
    case "$delete"  => Delete(str(spec \ "from", "$delete from"), onFields(spec, "$delete"))
    case "$send"    => Send(spec \ "topic" match { case JNothing => spec; case t => t })
    case "$delay"   => Delay(spec \ "topic", spec \ "duration", opt(spec \ "_clock"),
      spec \ "_maxTopics" match {
        case JNothing => SinkStages.DefaultMaxDelayTopics
        case JDouble(d) if d.isWhole => posInt(JInt(BigInt(d.toLong)), "$delay _maxTopics")
        case JInt(i) if i > Int.MaxValue => Int.MaxValue
        case JLong(l) => posInt(JInt(l.min(Int.MaxValue)), "$delay _maxTopics")
        case m => posInt(m, "$delay _maxTopics")
      })
    case "$probe"   => Probe(str(spec \ "name", "$probe name"),
      str(spec \ "topic", "$probe topic"), opt(spec \ "_clock"))
    case "$per"     => Per(posInt(spec \ "amount", "$per amount"), str(spec \ "as", "$per as"))
    case "$densify" => densify(spec)
    case "$fill"    => fill(spec)
    case "$deduplicate" => Deduplicate(spec match {
        case o: JObject => o \ "expression" match { case JNothing => JString("$_id"); case e => e }
        case e => e
      }, spec \ "_watermark" match {
        case JNothing => None
        case wm => Some((str(wm \ "column", "_watermark column"),
          str(wm \ "delay", "_watermark delay")))
      })
    case "$score" => Score(spec \ "score", normalization(spec \ "normalization", name))
    case "$rankFusion" | "$scoreFusion" => fusion(name, spec)
    case _ => Raw
  }

  private def opt(v: JValue): Option[JValue] = v match {
    case JNothing => None
    case x        => Some(x)
  }
  private def nonNegInt(v: JValue, what: String): Int = v match {
    case JInt(i) if i >= 0 && i <= Int.MaxValue => i.toInt
    case other => bad(s"$what: ${show(other)}")
  }

  private def unwind(spec: JValue): Unwind = {
    val u = spec match {
      case JString(p) => Unwind(p, None, false, false)
      case o: JObject => Unwind(str(o \ "path", "$unwind path"),
        optStr(o \ "includeArrayIndex", "$unwind includeArrayIndex"),
        flag(o \ "preserveNullAndEmptyArrays", "$unwind preserveNullAndEmptyArrays"),
        flag(o \ "newIds", "$unwind newIds"))
      case other => bad(s"$$unwind: ${show(other)}")
    }
    if (!u.path.startsWith("$") || u.path.length < 2)
      bad(s"$$unwind path must start with $$: ${u.path}")
    u.copy(path = u.path.drop(1))
  }

  private val accumulatorOps: Set[String] = Set("$sum", "$avg", "$count", "$max", "$min",
    "$push", "$addToSet", "$first", "$last", "$stdDevPop", "$stdDevSamp",
    "$mergeObjects", "$median", "$percentile", "$maxN", "$minN", "$firstN",
    "$lastN", "$top", "$bottom", "$topN", "$bottomN")

  private def percentiles(v: JValue, op: String): List[Double] = v match {
    case JArray(ps) => ps.map {
      case JDouble(d) => d; case JInt(i) => i.toDouble
      case other => bad(s"$$percentile p: ${show(other)}")
    }
    case other => bad(s"$op needs p: ${show(other)}")
  }

  /** The structured extras shared by `$group` accumulators and the same
    * operators in `$setWindowFields`: (input, n, p, sortBy). */
  private def structured(op: String, arg: JValue): (JValue, Int, List[Double],
      List[(String, Boolean)]) = op match {
    case "$median" => (arg match {
        case o: JObject if (o \ "input") != JNothing => o \ "input"
        case v => v
      }, 1, List(0.5), Nil)
    case "$percentile" =>
      val fs = obj(arg, op)
      (fs.collectFirst { case ("input", v) => v }.getOrElse(bad(s"$op needs input")),
        1, percentiles(arg \ "p", op), Nil)
    case "$maxN" | "$minN" | "$firstN" | "$lastN" =>
      val fs = obj(arg, op)
      (fs.collectFirst { case ("input", v) => v }.getOrElse(bad(s"$op needs input")),
        nArg(op, arg \ "n").getOrElse(bad(s"$op needs a literal n")), Nil, Nil)
    case "$top" | "$bottom" | "$topN" | "$bottomN" =>
      val fs = obj(arg, op)
      val out = fs.collectFirst { case ("output", v) => v }
        .getOrElse(bad(s"$op needs output"))
      val sort = sortKeys(fs.collectFirst { case ("sortBy", v) => v }
        .getOrElse(bad(s"$op needs sortBy")), s"$op sortBy")
      if (sort.isEmpty) bad(s"$op needs sortBy")
      val n = nArg(op, arg \ "n")
      if ((op == "$topN" || op == "$bottomN") && n.isEmpty) bad(s"$op needs a literal n")
      (out, n.getOrElse(1), Nil, sort)
    case _ => (arg, 1, Nil, Nil)
  }

  private def nArg(op: String, v: JValue): Option[Int] = v match {
    case JNothing => None
    case JInt(i) if i > 0 && i <= Int.MaxValue => Some(i.toInt)
    case _ => bad(s"$op needs a literal n")
  }

  /** `{field: {<accumulator>: <spec>}}` entries of `$group` / `$bucketAuto`. */
  def accumulators(fields: List[(String, JValue)]): List[Acc] = fields.map {
    case (f, JObject(List((op, arg)))) =>
      if (!accumulatorOps(op)) bad(s"unsupported accumulator $op")
      if (op == "$count" && arg != JObject(Nil)) bad("$count accumulator takes {}")
      val (in, n, ps, sort) = structured(op, arg)
      Acc(f, op, in, n, ps, sort)
    case (f, other) =>
      bad(s"$$group field $f: expected {<accumulator>: <spec>}, got ${show(other)}")
  }

  private def group(spec: JValue): Group = {
    val fields = obj(spec, "$group")
    val id = fields.collectFirst { case ("_id", v) => v }
      .getOrElse(bad("$group needs _id"))
    val accs = accumulators(fields.filterNot(f => f._1 == "_id" ||
      f._1 == "_collection" || f._1 == "_continuous"))
    Group(id, accs, flag(spec \ "_continuous", "$group _continuous"))
  }

  /** `$bucket` → `$group` with a `$switch` key over boundary pairs
    * (Bucket.java:74-115). */
  private def bucketToGroup(spec: JValue): JValue = {
    val groupBy = spec \ "groupBy"
    val bounds = spec \ "boundaries" match {
      case JArray(bs) if bs.size >= 2 => bs
      case _ => bad("$bucket needs >= 2 boundaries")
    }
    val ordered = bounds.map {
      case JDecimal(d) => d
      case b => BigDecimal(num(b, "$bucket boundary"))
    }
    if (ordered != ordered.sorted || ordered.distinct != ordered)
      bad("$bucket boundaries must be strictly ascending") // Bucket.java:69-72
    val branches = bounds.sliding(2).collect { case List(lo, hi) =>
      JObject(List(
        "case" -> JObject(List("$and" -> JArray(List(
          JObject(List("$gte" -> JArray(List(groupBy, lo)))),
          JObject(List("$lt" -> JArray(List(groupBy, hi)))))))),
        "then" -> lo))
    }.toList
    val switch = JObject(List("$switch" -> JObject(List(
      "branches" -> JArray(branches)) ++
      (spec \ "default" match { case JNothing => Nil; case d => List("default" -> d) }))))
    val output = spec \ "output" match {
      case JObject(fs) => fs
      case _           => List("count" -> JObject(List("$sum" -> JInt(1))))
    }
    JObject(("_id" -> switch) :: output)
  }

  /** Mongo time units in milliseconds (window `unit`, `$derivative`/`$integral`). */
  def unitMillis(u: String): Long = u match {
    case "week"        => 7L * 24 * 3600 * 1000
    case "day"         => 24L * 3600 * 1000
    case "hour"        => 3600L * 1000
    case "minute"      => 60L * 1000
    case "second"      => 1000L
    case "millisecond" => 1L
    case other => bad(s"window unit: $other")
  }

  val rankOps: Set[String] = Set("$rank", "$denseRank", "$documentNumber")
  /** Operators that ride the single sortBy key as a numeric axis. */
  val axisOps: Set[String] = Set("$derivative", "$integral", "$linearFill")
  private val windowOps: Set[String] = accumulatorOps - "$mergeObjects" ++ rankOps ++
    axisOps ++ Set("$shift", "$locf", "$expMovingAvg", "$covariancePop",
      "$covarianceSamp")

  private def setWindowFields(spec: JValue): SetWindowFields = {
    val part = spec \ "partitionBy" match { case JNothing | JNull => None; case p => Some(p) }
    val sort = spec \ "sortBy" match {
      case JNothing | JNull => Nil
      case s => sortKeys(s, "$setWindowFields sortBy")
    }
    def bound(v: JValue, isLo: Boolean): Long = v match {
      case JString("unbounded") => if (isLo) Long.MinValue else Long.MaxValue
      case JString("current")   => 0L
      case JInt(i)              => i.toLong
      case other => bad(s"window bound: ${show(other)}")
    }
    def pair(w: JValue, key: String): Option[(Long, Long)] = w \ key match {
      case JNothing => None
      case JArray(List(lo, hi)) => Some((bound(lo, isLo = true), bound(hi, isLo = false)))
      case other => bad(s"window $key: ${show(other)}")
    }
    val outs = obj(spec \ "output", "$setWindowFields output").map { case (name, o) =>
      if (name.contains(".")) bad("$setWindowFields: top-level output fields only")
      val fields = obj(o, s"$$setWindowFields output $name")
      val (op, arg) = fields.filterNot(_._1 == "window") match {
        case List(x) => x
        case _ => bad(s"$$setWindowFields output $name: expected one operator")
      }
      if (!windowOps(op)) bad(s"$$setWindowFields operator $op")
      val frame = fields.collectFirst { case ("window", w) =>
        Frame(pair(w, "documents"), pair(w, "range"), optStr(w \ "unit", "window unit"))
      }.getOrElse(Frame())
      frame.unit.foreach(unitMillis)
      if ((rankOps(op) || axisOps(op) || op == "$expMovingAvg") && sort.isEmpty)
        bad(s"$op requires sortBy")
      val base = WinOut(name, op, arg, frame)
      op match {
        case "$shift" => base.copy(input = arg \ "output", by = arg \ "by" match {
            case JInt(i) => i.toInt
            case JNothing => 1
            case other => bad(s"$$shift by: ${show(other)}")
          }, default = opt(arg \ "default"))
        case "$covariancePop" | "$covarianceSamp" => arg match {
          case JArray(List(x, y)) => base.copy(input = x, y = y)
          case other => bad(s"$op expects [x, y]: ${show(other)}")
        }
        case "$derivative" | "$integral" =>
          val unit = optStr(arg \ "unit", s"$op unit")
          unit.foreach(unitMillis)
          base.copy(input = arg \ "input", unit = unit)
        case "$expMovingAvg" => base.copy(input = arg \ "input",
          alpha = (arg \ "alpha", arg \ "N") match {
            case (JDouble(a), JNothing) => a
            case (JNothing, JInt(n))    => 2d / (n.toDouble + 1d)
            case (JNothing, JLong(n))   => 2d / (n.toDouble + 1d)
            case other => bad(s"$$expMovingAvg needs exactly one of N or alpha: $other")
          })
        case _ if rankOps(op) || op == "$count" || op == "$locf" ||
            op == "$linearFill" => base
        case _ =>
          val (in, n, ps, sb) = structured(op, arg)
          base.copy(input = in, n = n, ps = ps, sortBy = sb)
      }
    }
    if (outs.exists(o => axisOps(o.op) || o.frame.range.nonEmpty) && sort.size != 1)
      bad("$derivative/$integral/$linearFill/range windows need exactly one sortBy field")
    SetWindowFields(part, sort, outs)
  }

  /** Does `v` reference one of the let-variables (`"$$name"` / `"$$name.path"`
    * string values — structural, never a substring scan)? */
  def refsVars(v: JValue, vars: Set[String]): Boolean = v match {
    case JString(s) if s.startsWith("$$") => vars(s.drop(2).takeWhile(_ != '.'))
    case JObject(fields) => fields.exists { case (_, fv) => refsVars(fv, vars) }
    case JArray(items)   => items.exists(refsVars(_, vars))
    case _               => false
  }

  private def lookup(spec: JValue): Lookup = {
    val from = str(spec \ "from", "$lookup from")
    val as = str(spec \ "as", "$lookup as")
    val remote = (spec \ "connectionString", spec \ "database") match {
      case (JString(u), JString(d)) => Some((u, d))
      case _                        => None
    }
    val base = Lookup(from, as, None, Nil, Nil, None, Nil,
      flag(spec \ "unwind", "$lookup unwind"), flag(spec \ "inner", "$lookup inner"),
      remote, spec \ "_rangeJoin")
    (spec \ "localField", spec \ "foreignField") match {
      case (JString(l), JString(f)) => base.copy(local = Some((l, f)))
      case _ =>
        val let = spec \ "let" match { case JObject(vs) => vs; case _ => Nil }
        val sub = spec \ "pipeline" match {
          case JArray(ss) => ss
          case other => bad(s"$$lookup needs localField/foreignField or a pipeline: ${show(other)}")
        }
        val (prefix, rest) = sub.span(st => !refsVars(st, let.map(_._1).toSet))
        val (corr, trailing) = rest match {
          case JObject(List(("$match", m))) :: t => (Some(m), t)
          case Nil => (None, Nil)
          case other :: _ => bad("$lookup pipeline: the first let-variable-referencing " +
            s"stage must be a $$match, got ${show(other)}")
        }
        val trail = trailing.zipWithIndex.map { case (s, i) => stage(s, i) }
        trail.find(s => !Set("$project", "$sort", "$limit")(s.name)).foreach(s =>
          bad(s"$$lookup trailing sub-stage must be $$project/$$sort/$$limit: ${s.name}"))
        def isSort(st: JValue) = st match {
          case JObject(List(("$sort", _))) => true
          case _                           => false
        }
        if (prefix.exists(isSort) && !trail.exists(_.name == "$sort"))
          bad("$lookup pipeline: a $sort before the correlated $match cannot be " +
            "preserved in the `as` array; add a trailing $sort after it")
        base.copy(let = let, prefix = prefix, correlated = corr, trailing = trail)
    }
  }

  private val updateStages =
    Set("$set", "$addFields", "$unset", "$project", "$replaceRoot", "$replaceWith")

  private def merge(spec: JValue): Merge = {
    val updates = spec \ "whenMatched" match {
      case JArray(stages) => Some(stages.map {
        case JObject(List((n, sp))) =>
          if (!updateStages(n)) bad(s"$$merge whenMatched pipeline: unsupported stage $n " +
            "(Mongo allows $set/$addFields/$unset/$project/$replaceRoot/$replaceWith)")
          (n, sp)
        case other => bad(s"$$merge whenMatched pipeline stage: ${show(other)}")
      })
      case _ => None
    }
    def choice(v: JValue, what: String, default: String, ok: Set[String]) =
      v match {
        case JNothing | JArray(_) => default
        case JString(s) if ok(s)  => s
        case other                => bad(s"$what ${show(other)}")
      }
    Merge(str(spec \ "into", "$merge into"), onFields(spec, "$merge"),
      choice(spec \ "whenMatched", "whenMatched", "merge",
        Set("merge", "replace", "keepExisting", "fail")), updates,
      choice(spec \ "whenNotMatched", "whenNotMatched", "insert",
        Set("insert", "discard", "fail")), opt(spec \ "key"))
  }

  private val densifyUnits = Set("millisecond", "second", "minute", "hour",
    "day", "week", "month", "quarter", "year")

  private def densify(spec: JValue): Densify = {
    val parts = spec \ "partitionByFields" match {
      case JNothing   => Nil
      case JArray(xs) => xs.map(str(_, "partitionByFields"))
      case other      => bad(s"partitionByFields: ${show(other)}")
    }
    val range = spec \ "range"
    val step = range \ "step" match {
      case JInt(i) => i.toLong
      case other => bad(s"$$densify integer step only: ${show(other)}")
    }
    val unit = optStr(range \ "unit", "$densify unit")
    unit.foreach(u => if (!densifyUnits(u)) bad(s"$$densify unit: $u"))
    def micros(s: String) = {
      val i = java.time.Instant.parse(s)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    val (bounds, explicit) = range \ "bounds" match {
      case JString("partition") =>
        if (parts.isEmpty) bad("bounds: partition needs partitionByFields")
        ("partition", None)
      case JString("full") => ("full", None)
      case JArray(List(lo, hi)) =>
        def n(v: JValue): Long = (v, unit) match {
          case (JInt(i), None)       => i.toLong
          case (JString(s), Some(_)) => micros(s)
          case other => bad(s"bounds: $other")
        }
        ("explicit", Some((n(lo), n(hi))))
      case other => bad(s"$$densify bounds: ${show(other)}")
    }
    Densify(str(spec \ "field", "$densify field"), parts, step, unit, bounds, explicit)
  }

  private def fill(spec: JValue): Fill = {
    val outs = obj(spec \ "output", "$fill output")
    def method(v: JValue) = (v \ "method") match { case JString(m) => m; case _ => "" }
    val locf = outs.collect { case (f, v) if method(v) == "locf" => f }
    val linear = outs.collect { case (f, v) if method(v) == "linear" => f }
    val values = outs.filterNot(o => Set("locf", "linear")(method(o._2))).map {
      case (f, v) => (f, v \ "value" match {
        case JNothing => bad(s"$$fill $f: method must be locf or linear, or give value: <expr>")
        case e => e
      })
    }
    val sort = spec \ "sortBy" match {
      case JNothing | JNull => Nil
      case s => sortKeys(s, "$fill sortBy")
    }
    if (linear.nonEmpty && sort.size != 1)
      bad(s"$$fill linear needs exactly one sortBy field, got ${show(spec \ "sortBy")}")
    Fill(spec \ "partitionBy" match { case JNothing | JNull => None; case p => Some(p) },
      sort, locf, linear, values)
  }

  private def normalization(v: JValue, stage: String): String = v match {
    case JNothing => "none"
    case JString(s @ ("none" | "sigmoid" | "minMaxScaler")) => s
    case other => bad(s"$stage normalization: ${show(other)}")
  }

  private def fusion(name: String, spec: JValue): Fusion = {
    val pipes = obj(spec \ "input" \ "pipelines", s"$name input.pipelines")
    val inputs = pipes.map { case (pname, p) =>
      val stages = parse(p)
      val names = stages.map(_.name)
      val badNames = names.filterNot(n => info(n).fusions(name))
      if (badNames.nonEmpty) {
        val allowed = table.toSeq.collect { case (n, i) if i.fusions(name) => n }.sorted
        bad(s"$name pipeline '$pname': only selection" +
          (if (name == "$scoreFusion") "/scoring" else "") +
          s" stages (${allowed.mkString(" ")}) are allowed, got ${badNames.mkString(" ")}")
      }
      if (name == "$rankFusion") {
        // boundedness: the rank window runs over a SMALL candidate set
        if (!names.contains("$limit") && !names.contains("$vectorSearch"))
          bad(s"$$rankFusion pipeline '$pname' must be bounded: add a $$limit")
        if (!names.exists(Set("$sort", "$vectorSearch", "$search")))
          bad(s"$$rankFusion pipeline '$pname' must rank: end with $$sort " +
            "or include $vectorSearch/$search")
      } else if (!names.exists(n => info(n).scores))
        bad(s"$$scoreFusion pipeline '$pname' must produce a score: " +
          "include $score, $vectorSearch or $search")
      pname -> stages
    }
    val weights = spec \ "combination" \ "weights" match {
      case JObject(ws) => ws.map { case (n, v) => n -> (v match {
        case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
        case JDouble(d) => d; case _ => 1.0 }) }.toMap
      case _ => Map.empty[String, Double]
    }
    Fusion(inputs, weights, normalization(spec \ "input" \ "normalization", name))
  }
}
