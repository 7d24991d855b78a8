package graft.dynamic

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.json4s._
import graft.StageSpec
import graft.StageSpec._

import scala.jdk.CollectionConverters._

/** The DYNAMIC (schemaless) pipeline: the same stage language as
  * [[graft.Pipeline]], but over messages carried as ONE JSON string column
  * (`doc`, plus the optional `key` column), for inputs whose shape is
  * unknowable at plan time — heterogeneously-typed fields, computed keys,
  * arbitrary deep merges (reference Pipeline.java:273 processes any
  * `JsonObject`; the typed engine needs a StructType).
  *
  * Execution model, designed for the 100 TB case:
  *  - Every document-local stage ($addFields, $project, $match, $unwind,
  *    $replaceWith, $redact, …) compiles to a `Msg => Iterator[Msg]` and
  *    consecutive runs FUSE into one `mapPartitions` pass: one JSON parse
  *    and one render per document for the whole run, regardless of how many
  *    stages it contains. No shuffle, no driver involvement, fully
  *    distributed and pipelined with the parquet scan.
  *  - `$group` is the only shuffle: the group key is computed map-side, all
  *    accumulators fuse into ONE [[graft.functions.DynGroupAgg]] with
  *    map-side partial aggregation, so accumulator states — never documents
  *    — cross the wire.
  *
  * Stage dispatch mirrors Pipeline.java:243-273; unrecognized stages are
  * silently ignored (Pipeline.java:265).
  */
object DynPipeline {

  import DynJson._

  /** One message: (key or null, parsed document). */
  type Msg = (String, JsonNode)
  type DocFn = Msg => Iterator[Msg]

  /** Side-effect context, mirroring [[graft.Pipeline]]'s constructor:
    * `producer` receives sink batches ($send/$delay/$probe), `store` backs
    * $merge/$out/$delete collections, `catalog` resolves $lookup `from`
    * names to JSON-document frames (a `doc` column, optional `key`). */
  final case class DynCtx(
      producer: DataFrame => Unit = _ => (),
      store: graft.sources.DocumentStore = null,
      catalog: String => DataFrame = name =>
        throw new IllegalArgumentException(s"no catalog for $$lookup from: $name"),
      /** `$lookup` remote `(connectionString, database, from)` form
        * (Lookup.java:74-78) — must return the same doc-frame shape as
        * `catalog`. `None` falls back to a connector-native
        * [[graft.sources.MongoStore]] read rendered to JSON docs. */
      remoteCatalog: Option[(String, String, String) => DataFrame] = None,
      /** User stage extensions; built-ins win on a name clash
        * (Pipeline.java:275-276, Context.java:35). */
      extensions: Map[String, (DataFrame, JValue, DynCtx) => DataFrame] = Map.empty)

  def run(df: DataFrame, pipelineJson: String): DataFrame =
    run(df, org.json4s.jackson.JsonMethods.parse(pipelineJson), DynCtx())

  def run(df: DataFrame, pipelineJson: String, ctx: DynCtx): DataFrame =
    run(df, org.json4s.jackson.JsonMethods.parse(pipelineJson), ctx)

  def run(df: DataFrame, pipeline: JValue): DataFrame = run(df, pipeline, DynCtx())

  private val hiddenScoreFields = List("__vsScore", "__searchScore", "__score")

  /** Remove the hidden `__*Score` fields: they are visible to `$meta` WITHIN
    * the pipeline but must not leak into sink payloads or the final output
    * (the typed engine strips back to the original columns the same way). */
  private val stripScores: DocFn = { case (k, d) =>
    val stripped =
      if (d.isObject && hiddenScoreFields.exists(d.asInstanceOf[ObjectNode].has)) {
        val c = d.deepCopy[ObjectNode]()
        hiddenScoreFields.foreach(c.remove)
        c
      } else d
    Iterator.single((k, stripped))
  }

  def run(df: DataFrame, pipeline: JValue, ctx: DynCtx): DataFrame =
    run(df, StageSpec.parse(pipeline), ctx, keepScores = false)

  def run(df: DataFrame, stages: List[Stage], ctx: DynCtx): DataFrame =
    run(df, stages, ctx, keepScores = false)

  /** `keepScores = true` preserves the hidden score fields past pipeline
    * end — the fusion stages run their INPUT pipelines through here and
    * read `__score`/`__vsScore`/`__searchScore` from the results (the
    * default end-of-run strip would blank them; found when `$scoreFusion`
    * read null scores from its freshly-`$score`d inputs). */
  /** The stage-level `_trace` flag is accepted and ignored, like `$trace`:
    * the fused mapPartitions runs have no per-stage plan node to observe
    * (the typed engine turns it into an `observe` metric). */
  private def run(df: DataFrame, stages: List[Stage], ctx: DynCtx,
      keepScores: Boolean): DataFrame = {
    var cur = normalize(df)
    var pending = List.newBuilder[DocFn]
    var scored = false // a score stage ran and its hidden fields may linger
    def flush(): Unit = {
      val fns = pending.result()
      if (fns.nonEmpty) { cur = applyFused(cur, fns); pending = List.newBuilder[DocFn] }
    }
    stages.foreach { st =>
      if (!StageSpec.table.contains(st.name) && ctx.extensions.contains(st.name)) {
        flush()
        cur = ctx.extensions(st.name)(cur, st.spec, ctx)
      } else if (st.info.fusable) pending += compileDocStage(st)
      else {
        if (scored && st.info.kind == StageSpec.Sink) { pending += stripScores; scored = false }
        flush()
        cur = applyBarrier(cur, st, ctx)
        if (st.info.scores) scored = true
      }
    }
    if (scored && !keepScores) pending += stripScores
    flush()
    cur
  }

  /** Accept (key, doc) or just (doc); everything else is an error. */
  private def normalize(df: DataFrame): DataFrame =
    if (df.columns.contains("key")) df.select(col("key").cast(StringType), col("doc"))
    else df.select(lit(null).cast(StringType).as("key"), col("doc"))

  private val tuple2Enc = Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** One mapPartitions pass applying a fused run of document-local stages. */
  private def applyFused(df: DataFrame, fns: List[DocFn]): DataFrame = {
    val composed: DocFn = fns match {
      case single :: Nil => single
      case many =>
        msg => many.foldLeft(Iterator.single(msg))((it, f) => it.flatMap(f))
    }
    val out = df.as(tuple2Enc).mapPartitions { it =>
      it.flatMap { case (k, s) =>
        composed((k, parse(s))).map { case (k2, d2) => (k2, render(d2)) }
      }
    }(tuple2Enc)
    out.toDF("key", "doc")
  }

  // ---- document-local stages --------------------------------------------------

  /** A per-document (fusable, [[StageSpec.Info.fusable]]) stage. */
  private def compileDocStage(st: Stage): DocFn = {
    val spec = st.spec
    st.args match {
      case u: Unwind => unwind(u)
      case _ => st.name match {
        case "$addFields" | "$set" => addFields(spec)
        case "$project"            => project(spec)
        case "$unset"              => unset(spec)
        case "$replaceWith"        => replaceWith(spec)
        case "$replaceRoot"        => replaceWith(spec \ "newRoot")
        case "$match"              =>
          val p = DynMatch.compile(spec)
          m => if (p.test(DynExpr.DCtx(m._2, Map.empty))) Iterator.single(m) else Iterator.empty
        case "$redact"             => redact(spec)
        case "$setKey"             =>
          val op = DynExpr.compile(spec)
          (m: Msg) => Iterator.single((keyString(op.eval(DynExpr.DCtx(m._2, Map.empty))), m._2))
        case "$http"               => http(spec)
        case "$jslt"               => jslt(spec)
        case "$jq"                 => jq(spec)
        // $trace/$backTrace and unrecognized stages pass through (Pipeline.java:265)
        case _                     => Iterator.single(_)
      }
    }
  }

  /** $setKey stringification: raw text for strings (reference
    * Util.java:86-88 — toNative().toString() never quotes), null for
    * null/missing (typed null==missing convention), compact JSON render
    * for everything else — the typed engine's cast/to_json produces the
    * SAME strings (SetKeyParity pin), so re-keyed streams partition
    * identically across engines. No canonical() integral-collapse here:
    * the typed cast renders 2.0 as "2.0", and key strings are identity,
    * not group identity. */
  private def keyString(v: JsonNode): String =
    if (v.isTextual) v.textValue
    else if (isMissing(v) || v.isNull) null
    else render(v)

  /** $addFields deep-merge, reference AddFields.java:37-57 semantics:
    * dotted spec paths create/descend nested objects; an existing value is
    * replaced in place; a NON-OBJECT (incl. null) sitting on a prefix of a
    * new path is replaced by an object (TestAddFields.java:88-106); literal
    * dot-containing keys in the DOCUMENT are never split (the reference's
    * escapeDot round-trip — a tree walk gets this for free). */
  private def addFields(spec: JValue): DocFn = {
    val fields: List[(List[String], DynExpr.DOp)] = spec match {
      case JObject(fs) => fs.map { case (k, v) => (k.split('.').toList, DynExpr.compile(v)) }
      case other => throw new IllegalArgumentException(s"$$addFields: $other")
    }
    msg => {
      val (k, doc0) = msg
      val doc = copy(doc0).asInstanceOf[ObjectNode]
      val ctx = DynExpr.DCtx(doc0, Map.empty) // all expressions see the ORIGINAL doc
      fields.foreach { case (segs, op) =>
        val v = op.eval(ctx)
        setPath(doc, segs, v)
      }
      Iterator.single((k, doc))
    }
  }

  /** Set (or remove, when value is MISSING) a dotted path, replacing
    * non-object intermediates with fresh objects. */
  private def setPath(root: ObjectNode, segs: List[String], value: JsonNode): Unit = {
    var node = root
    var rest = segs
    while (rest.tail.nonEmpty) {
      val seg = rest.head
      node.get(seg) match {
        case o: ObjectNode => node = o
        case _ => // missing or non-object prefix: replace with an object
          val o = obj()
          node.set[JsonNode](seg, o)
          node = o
      }
      rest = rest.tail
    }
    if (isMissing(value)) node.remove(rest.head)
    else node.set[JsonNode](rest.head, copy(value))
  }

  private def removePath(root: JsonNode, segs: List[String]): Unit = (root, segs) match {
    case (o: ObjectNode, seg :: Nil) => o.remove(seg); ()
    case (o: ObjectNode, seg :: rest) =>
      val child = o.get(seg)
      if (child != null) removePath(child, rest)
    case (a: ArrayNode, segs2) => a.asScala.foreach(removePath(_, segs2))
    case _ => ()
  }

  private def getPath(root: JsonNode, segs: List[String]): JsonNode =
    DynExpr.resolve(root, segs)

  private def unset(spec: JValue): DocFn = {
    val paths: List[List[String]] = spec match {
      case JString(p)    => List(p.split('.').toList)
      case JArray(items) => items.map { case JString(p) => p.split('.').toList
                                        case other => throw new IllegalArgumentException(s"$$unset: $other") }
      case other => throw new IllegalArgumentException(s"$$unset: $other")
    }
    msg => {
      val (k, doc0) = msg
      val doc = copy(doc0)
      paths.foreach(removePath(doc, _))
      Iterator.single((k, doc))
    }
  }

  /** $project: inclusion mode if any value is 1/true/computed; _id included
    * by default; dotted paths; exclusion mode mirrors $unset. */
  private def project(spec: JValue): DocFn = {
    val fields = spec match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(s"$$project: $other")
    }
    // Mongo: ANY number (int/long/double) is a plain include/exclude flag —
    // 0/0.0/false excludes, every other number and true includes; only
    // strings/objects/arrays are computed expressions
    def isExclude(v: JValue): Boolean = v match {
      case JBool(b)   => !b
      case JInt(i)    => i == 0
      case JLong(l)   => l == 0L
      case JDouble(d) => d == 0d
      case _          => false
    }
    def isPlainInclude(v: JValue): Boolean = v match {
      case JBool(b)   => b
      case JInt(i)    => i != 0
      case JLong(l)   => l != 0L
      case JDouble(d) => d != 0d
      case _          => false
    }
    // ANY included field (incl. a bare {"_id": 1}) makes this an inclusion
    // projection; only an all-exclusion spec means exclusion mode
    val inclusionMode = fields.exists { case (_, v) => !isExclude(v) }
    if (!inclusionMode) unset(JArray(fields.map { case (k, _) => JString(k) }))
    else {
      val idExcluded = fields.exists { case (k, v) => k == "_id" && isExclude(v) }
      // a COMPUTED _id ({"_id": <expr>}) projects like any computed field
      val idComputed: Option[DynExpr.DOp] = fields.collectFirst {
        case ("_id", v) if !isExclude(v) && !isPlainInclude(v) =>
          DynExpr.compile(v)
      }
      val incl: List[(List[String], Option[DynExpr.DOp])] = fields.collect {
        case (k, v) if k != "_id" && !isExclude(v) =>
          val segs = k.split('.').toList
          if (isPlainInclude(v)) (segs, None) // include as-is
          else (segs, Some(DynExpr.compile(v)))
      }
      msg => {
        val (k, doc0) = msg
        val out = obj()
        if (idComputed.nonEmpty) {
          val v = idComputed.get.eval(DynExpr.DCtx(doc0, Map.empty))
          if (!isMissing(v)) out.set[JsonNode]("_id", copy(v))
        } else if (!idExcluded) {
          val id = doc0.get("_id")
          if (id != null) out.set[JsonNode]("_id", copy(id))
        }
        val ctx = DynExpr.DCtx(doc0, Map.empty)
        incl.foreach {
          case (segs, None) =>
            val v = getPath(doc0, segs)
            if (!isMissing(v)) setPath(out, segs, v)
          case (segs, Some(op)) =>
            val v = op.eval(ctx)
            if (!isMissing(v)) setPath(out, segs, v)
        }
        Iterator.single((k, out))
      }
    }
  }

  /** $replaceWith / $replaceRoot: an OBJECT result replaces the document
    * (key follows result._id when present); any other result leaves the
    * message UNCHANGED — reference ReplaceWith.java:29-36. */
  private def replaceWith(spec: JValue): DocFn = {
    val op = DynExpr.compile(spec)
    msg => {
      val (k, doc) = msg
      op.eval(DynExpr.DCtx(doc, Map.empty)) match {
        case o: ObjectNode =>
          val id = o.get("_id")
          val k2 = if (id != null && id.isTextual) id.textValue else k
          Iterator.single((k2, o))
        case _ => Iterator.single(msg) // non-object: passthrough
      }
    }
  }

  /** $unwind: path form or {path, includeArrayIndex,
    * preserveNullAndEmptyArrays, newIds}; `newIds` gives every unwound
    * document a fresh UUID `_id` and re-keys it (the typed engine's rule). */
  private def unwind(u: Unwind): DocFn = {
    val Unwind(path, indexField, preserve, newIds) = u
    val segs = path.split('.').toList
    if (newIds) {
      val plain = unwind(u.copy(newIds = false))
      return msg => plain(msg).map { case (_, d) =>
        val id = java.util.UUID.randomUUID().toString
        val o = copy(d).asInstanceOf[ObjectNode]
        o.put("_id", id)
        (id, o)
      }
    }
    msg => {
      val (k, doc) = msg
      getPath(doc, segs) match {
        case a: ArrayNode if a.size > 0 =>
          a.asScala.zipWithIndex.iterator.map { case (el, i) =>
            val d = copy(doc).asInstanceOf[ObjectNode]
            setPath(d, segs, el)
            indexField.foreach(f => setPath(d, f.split('.').toList, long(i.toLong)))
            (k, d: JsonNode)
          }
        case v if isMissing(v) || v.isNull || v.isArray => // empty array lands here too
          if (preserve) {
            val d = copy(doc).asInstanceOf[ObjectNode]
            // Mongo: null stays null; empty array → field removed; missing stays missing
            if (v.isArray) removePath(d, segs)
            indexField.foreach(f => setPath(d, f.split('.').toList, NULL))
            Iterator.single((k, d))
          } else Iterator.empty
        case _ => // non-array unwinds to itself (Mongo)
          indexField match {
            case Some(f) =>
              val d = copy(doc).asInstanceOf[ObjectNode]
              setPath(d, f.split('.').toList, NULL)
              Iterator.single((k, d: JsonNode))
            case None => Iterator.single((k, doc))
          }
      }
    }
  }

  /** $redact: evaluate against the root and each nested object; the result
    * must equal $$DESCEND / $$PRUNE / $$KEEP (as the conventional string
    * sentinels). DESCEND recurses into sub-objects (incl. inside arrays). */
  private def redact(spec: JValue): DocFn = {
    val op = DynExpr.compile(spec)
    // Mongo's system variables resolve to the string sentinels, so both
    // "$$KEEP" and the lenient bare "KEEP" forms work
    val sentinels: Map[String, JsonNode] =
      List("KEEP", "PRUNE", "DESCEND").map(s => s -> (text(s): JsonNode)).toMap
    def decide(o: JsonNode): String =
      op.eval(DynExpr.DCtx(o, sentinels)) match {
        case s if s.isTextual => s.textValue
        case other => throw new IllegalArgumentException(s"$$redact must yield a sentinel, got $other")
      }
    def walk(o: ObjectNode): Option[JsonNode] = decide(o) match {
      case "KEEP"  => Some(o)
      case "PRUNE" => None
      case "DESCEND" =>
        val out = obj()
        o.fields().asScala.foreach { e =>
          e.getValue match {
            case sub: ObjectNode =>
              walk(sub).foreach(v => out.set[JsonNode](e.getKey, v))
            case a: ArrayNode =>
              val kept = arr()
              a.asScala.foreach {
                case sub: ObjectNode => walk(sub).foreach(kept.add)
                case el              => kept.add(el)
              }
              out.set[JsonNode](e.getKey, kept)
            case el => out.set[JsonNode](e.getKey, el)
          }
        }
        Some(out)
      case other => throw new IllegalArgumentException(s"$$redact sentinel: $other")
    }
    msg => {
      val (k, doc) = msg
      walk(copy(doc).asInstanceOf[ObjectNode]) match {
        case Some(d) => Iterator.single((k, d))
        case None    => Iterator.empty
      }
    }
  }

  /** `$jslt` in dynamic mode: the FULL language via the
    * [[graft.operators.JsltInterp]] tree-walk engine — computed keys,
    * object-for, user `def`s with recursion — running fused inside the same
    * mapPartitions pass as its neighbors (the reference runs the real JSLT
    * engine per message, Jslt.java:18-36). The result must be an object; a
    * string `_id` in it re-keys the message (Script.java:70-72). */
  private def jslt(spec: JValue): DocFn = {
    val src = graft.operators.ScriptStages.scriptSource(spec)
    val f = graft.operators.JsltInterp.compiled(src)
    msg => {
      val r = f(msg._2)
      if (!r.isObject) throw new IllegalArgumentException(
        s"$$jslt must produce an object, got: ${render(r)}")
      val k2 = r.path("_id") match {
        case id if id.isTextual => id.textValue
        case _                  => msg._1
      }
      Iterator.single((k2, r))
    }
  }

  /** `$jq` in dynamic mode: full stream semantics via
    * [[graft.operators.JqInterp]] — `.[]`, `,`, `as`, `reduce`, recursive
    * `def`s (the reference runs jackson-jq, Jq.java:16-33). An empty output
    * stream drops the message (jq `select`); otherwise the first output
    * must be an object and re-keys on its string `_id` like `$jslt`. */
  private def jq(spec: JValue): DocFn = {
    val src = graft.operators.ScriptStages.scriptSource(spec)
    val f = graft.operators.JqInterp.compiled(src)
    msg => f(msg._2) match {
      case Nil => Iterator.empty
      case r :: _ if r.isObject =>
        val k2 = r.path("_id") match {
          case id if id.isTextual => id.textValue
          case _                  => msg._1
        }
        Iterator.single((k2, r))
      case r :: _ => throw new IllegalArgumentException(
        s"$$jq must produce an object, got: ${render(r)}")
    }
  }

  /** `$http` with FULL reference response parsing (Http.java:340-405):
    * dynamic documents are JSON trees, so a JSON response lands in `as` as
    * its parsed value of ANY shape — singleton arrays reduce to their only
    * element, text content types land as strings, other types land no body.
    * `unwind: true` emits one message per response-array element; non-2xx
    * sets `httpError: {statusCode, body}` instead (body parsed when JSON).
    * The I/O runs inside the fused mapPartitions pass with the shared
    * per-executor client ([[graft.operators.HttpIO]]). */
  private def http(spec: JValue): DocFn = {
    import graft.operators.HttpIO
    val as = spec \ "as" match { case JString(s) => Some(s); case _ => None }
    val unwind = (spec \ "unwind") == JBool(true)
    val retries = spec \ "retries" match { case JInt(i) => i.toInt; case _ => 3 }
    val ssl = graft.operators.HttpStage.sslSpec(spec)
    val urlOp = DynExpr.compile(spec \ "url")
    val methodOp = spec \ "method" match {
      case JNothing => None
      case m        => Some(DynExpr.compile(m))
    }
    val headersOp = spec \ "headers" match {
      case JNothing => None
      case h        => Some(DynExpr.compile(h))
    }
    val bodyOp = spec \ "body" match {
      case JNothing => None
      case b        => Some(DynExpr.compile(b))
    }

    msg => {
      val (k, doc0) = msg
      val ctx = DynExpr.DCtx(doc0, Map.empty)
      def withField(field: String, v: JsonNode): JsonNode = {
        val d = copy(doc0).asInstanceOf[ObjectNode]
        d.remove("httpError"); as.foreach(d.remove)
        d.set[JsonNode](field, v)
        d
      }
      def errOut(status: Int, body: JsonNode): Iterator[Msg] = {
        val e = obj()
        e.set[JsonNode]("statusCode", long(status.toLong))
        e.set[JsonNode]("body", missingToNull(body))
        Iterator.single((k, withField("httpError", e)))
      }

      val urlV = urlOp.eval(ctx)
      val methodV = methodOp.map(_.eval(ctx)).getOrElse(text("GET"))
      if (!urlV.isTextual || !methodV.isTextual ||
          !HttpIO.methods.contains(methodV.textValue.toUpperCase))
        errOut(400, MISSING) // invalid url/method (Http.java:111-113)
      else {
        val headers: Seq[(String, String)] = headersOp.map(_.eval(ctx)) match {
          case Some(h: ObjectNode) =>
            h.fields().asScala.flatMap { e =>
              e.getValue match {
                case a: ArrayNode => a.asScala.map(v => e.getKey -> v.asText()).toSeq
                case v            => Seq(e.getKey -> (if (v.isTextual) v.textValue else render(v)))
              }
            }.toSeq
          case _ => Nil
        }
        val bodyStr = bodyOp.map(_.eval(ctx)).map {
          case v if v.isTextual => v.textValue
          case v                => render(v)
        }
        HttpIO.request(urlV.textValue, methodV.textValue.toUpperCase, headers,
          bodyStr.orNull, retries, ssl) match {
          case Right(r) if r.status < 300 =>
            val parsed: JsonNode =
              if (r.body == null || r.body.isEmpty) MISSING
              else if (HttpIO.isJson(r.contentType)) {
                val n = parseOrText(r.body)
                if (n.isArray && n.size == 1) n.get(0) else n // singleton reduction
              } else if (HttpIO.isText(r.contentType)) text(r.body)
              else MISSING // opaque content types carry no body (Http.java:364-366)
            as match {
              case None => Iterator.single((k, doc0))
              case Some(field) =>
                if (unwind && parsed.isArray)
                  parsed.asInstanceOf[ArrayNode].asScala.iterator
                    .map(el => (k, withField(field, el)))
                else if (isMissing(parsed)) Iterator.single((k, doc0))
                else Iterator.single((k, withField(field, parsed)))
            }
          case Right(r) =>
            val body: JsonNode =
              if (r.body == null || r.body.isEmpty) NULL
              else if (HttpIO.isJson(r.contentType)) parseOrText(r.body)
              else text(r.body)
            errOut(r.status, body)
          case Left(m) => errOut(0, text(m))
        }
      }
    }
  }

  /** A server can declare a JSON content type and still send a malformed
    * body (a bare 404 page, a proxy error) — degrade to the raw text
    * instead of crashing the task (sink-fuzz find, round 11; the typed
    * engine never parses, so it was already immune). */
  private def parseOrText(s: String): JsonNode =
    try parse(s) catch { case _: Exception => text(s) }

  // ---- barrier stages ---------------------------------------------------------

  private def applyBarrier(df: DataFrame, st: Stage, ctx: DynCtx): DataFrame = {
    val spec = st.spec
    st.args match {
    case g: Group       => group(df, g)
    case Count(field)   =>
      // Mongo's $count ($group{_id:null}+$project sugar) emits NOTHING on
      // empty input; a bare .agg() would fabricate a 0 row (fuzzer find)
      df.agg(count(lit(1)).as("__n")).filter(col("__n") > 0).select(
        lit(null).cast(StringType).as("key"),
        concat(lit(s"""{"$field":"""), col("__n").cast(StringType), lit("}")).as("doc"))
    case d: Deduplicate => deduplicate(df, d)
    case w: SetWindowFields => setWindowFields(df, w)
    case f: Fill        => fillStage(df, f)
    case d: Densify     => densifyStage(df, d)
    case Sort(keys)     => sortStage(df, keys)
    case Limit(n)       => df.limit(n)
    case Skip(n)        => df.offset(n)
    case Sample(n) => // deterministic hash order —
      // priority = xxhash64 of the canonical {"_id": <id>} rendering, the
      // SAME string the typed engine hashes (to_json(struct(_id))), so both
      // engines sample identical subsets; docs without an _id fall back to
      // the raw doc text (engine-local)
        val keyed = normalize(df).as(tuple2Enc).mapPartitions { it =>
          it.map { case (k, s) =>
            val d = parse(s)
            val id = d.get("_id")
            val pr =
              if (id == null || id.isNull) s
              else { val o = obj(); o.set[JsonNode]("_id", id); render(o) }
            (k, s, pr)
          }
        }(tuple3Enc).toDF("key", "doc", "__pr")
        keyed.orderBy(xxhash64(col("__pr"))).limit(n).select("key", "doc")
    case s: Send        => send(df, s, ctx)
    case p: Per         => per(df, p)
    case d: Delay       => delay(df, d, ctx)
    case p: Probe       => probe(df, p, ctx)
    case m: StageSpec.Merge => mergeStage(df, m, ctx)
    case d: Delete      => delete(df, d, ctx)
    case l: Lookup      => lookup(df, l, ctx)
    case s: Score       => score(df, s)
    case f: Fusion if st.name == "$rankFusion" => rankFusion(df, f, ctx)
    case f: Fusion      => scoreFusion(df, f, ctx)
    case _ => st.name match {
    case "$sortByCount" =>
      val op = DynExpr.compile(spec)
      normalize(df).as(tuple2Enc).mapPartitions { it =>
        it.map { case (_, s) =>
          (canonical(op.eval(DynExpr.DCtx(parse(s), Map.empty))), s)
        }
      }(tuple2Enc).toDF("__k", "doc")
        .groupBy("__k").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("__k"))
        .select(lit(null).cast(StringType).as("key"),
          concat(lit("""{"_id":"""), col("__k"), lit(""","count":"""),
            col("__n").cast(StringType), lit("}")).as("doc"))
    case "$documents" =>
      // MQL entry stage: the literal docs REPLACE the input, carried exactly
      val docs = spec match {
        case JArray(ds) if ds.forall(_.isInstanceOf[JObject]) => ds
        case other => throw new IllegalArgumentException(
          s"$$documents expects an array of objects: $other")
      }
      val jsons = docs.map(d => (null: String, org.json4s.jackson.JsonMethods
        .compact(org.json4s.jackson.JsonMethods.render(d))))
      df.sparkSession.createDataset(jsons)(tuple2Enc).toDF("key", "doc")
    case "$unionWith" =>
      val (collOpt, sub) = spec match {
        case JString(c) => (Some(c), JNothing)
        case o: JObject => (o \ "coll" match {
          case JString(c) => Some(c)
          case JNothing   => None // Mongo 6: collection-less $unionWith
          case other => throw new IllegalArgumentException(s"$$unionWith coll: $other")
        }, o \ "pipeline")
        case other => throw new IllegalArgumentException(s"$$unionWith: $other")
      }
      val other = (collOpt, sub) match {
        case (Some(c), JNothing | JNull) => normalize(ctx.catalog(c))
        case (Some(c), p)                => run(normalize(ctx.catalog(c)), p, ctx)
        case (None, p @ JArray(JObject(("$documents", _) :: _) :: _)) =>
          run(normalize(df).limit(0), p, ctx) // $documents ignores its input
        case (None, _) => throw new IllegalArgumentException(
          "$unionWith without coll needs a pipeline starting with $documents")
      }
      normalize(df).unionByName(other)
    case "$facet" =>
      val JObject(facets) = (spec: @unchecked)
      val framed = facets.map { case (fname, sub) =>
        run(normalize(df), sub, ctx)
          .agg(collect_list(col("doc")).as(fname))
      }
      framed.reduce((a, b) => a.crossJoin(b)).mapPartitions { rows =>
        rows.map { r =>
          val out = obj()
          facets.map(_._1).zipWithIndex.foreach { case (fname, i) =>
            val a = arr()
            r.getSeq[String](i).foreach(s => a.add(parse(s)))
            out.set[JsonNode](fname, a)
          }
          (null: String, render(out))
        }
      }(tuple2Enc).toDF("key", "doc")
    case "$throttle"    => graft.Stages.throttle(df, spec) // schema-free pacing
    case "$graphLookup" => graphLookup(df, spec, ctx)
    case "$bucketAuto"  => bucketAuto(df, spec)
    case "$vectorSearch" => vectorSearch(df, spec)
    case "$geoNear"     => geoNear(df, spec)
    case "$search"      => search(df, spec)
    case other => throw new IllegalArgumentException(s"dynamic mode: unsupported stage $other")
    }
    }
  }

  // ---- sink / effect stages ---------------------------------------------------

  /** `$send` (Send.java:36-68), per MESSAGE: a string topic result sends the
    * message (it leaves the stream); anything else passes it through. */
  private def send(df: DataFrame, s: Send, ctx: DynCtx): DataFrame = {
    val op = DynExpr.compile(s.topic)
    val tuple3Enc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    val typed = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val v = op.eval(DynExpr.DCtx(parse(s), Map.empty))
        (k, s, if (v != null && v.isTextual) v.textValue else null)
      }
    }(tuple3Enc).toDF("key", "doc", "__topic").persist()
    ctx.producer(typed.filter(col("__topic").isNotNull))
    val rest = typed.filter(col("__topic").isNull).drop("__topic")
    rest
  }

  /** `$per` (Per.java:28-49): batches of `amount` docs per input partition
    * become one `{as: [...]}` doc keyed by a fresh UUID. */
  private def per(df: DataFrame, p: Per): DataFrame = {
    val Per(amount, as) = p
    normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map(_._2).grouped(amount).map { batch =>
        val o = obj()
        val a = arr()
        batch.foreach(s => a.add(parse(s)))
        o.set[JsonNode](as, a)
        (java.util.UUID.randomUUID().toString, render(o))
      }
    }(tuple2Enc).toDF("key", "doc")
  }

  /** `$delay` (Delay.java:32-77): valid messages (long duration, string
    * topic) are stamped `__deliverAt`, produced AND parked in the store
    * collection `__delay__<topic>`; invalid ones pass through. `_clock`
    * (extension) evaluates an event-time epoch-millis expression per doc. */
  private def delay(df: DataFrame, dl: Delay, ctx: DynCtx): DataFrame = {
    require(ctx.store != null, "$delay needs a DocumentStore in dynamic mode")
    val topicOp = DynExpr.compile(dl.topic)
    val durOp = DynExpr.compile(dl.duration)
    val clockOp = dl.clock.map(DynExpr.compile)
    val enc4 = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING,
      Encoders.scalaLong)
    val typed = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val dctx = DynExpr.DCtx(parse(s), Map.empty)
        val t = topicOp.eval(dctx)
        val d = durOp.eval(dctx)
        val valid = t != null && t.isTextual && d != null && d.isIntegralNumber
        val base = clockOp.map(_.eval(dctx)) match {
          case Some(c) if c != null && c.isNumber => c.longValue
          case Some(c) if c != null && c.isTextual =>
            // unparseable text FAILS LOUDLY — a silent wall-clock fallback
            // made the output nondeterministic (round-12 advisor find)
            clockInstant(c.textValue).getOrElse(throw new IllegalArgumentException(
              s"$$delay _clock: unparseable instant '${c.textValue}'"))
          case _                                  => System.currentTimeMillis()
        }
        if (valid) (k, s, t.textValue, base + d.longValue)
        else (k, s, null.asInstanceOf[String], 0L)
      }
    }(enc4).toDF("key", "doc", "__topic", "__deliverAtMs").persist()
    val scheduled = typed.filter(col("__topic").isNotNull)
      .withColumn("__deliverAt", timestamp_millis(col("__deliverAtMs")))
      .drop("__deliverAtMs")
    // guard BEFORE producing (a trip after the produce would emit messages
    // that are never parked, re-produced on retry), unpersist on any exit
    try {
      val topics = graft.SinkStages.collectTopicsGuarded(
        scheduled.select("__topic"), dl.maxTopics, "$delay")
      ctx.producer(scheduled)
      // cardinality-guarded: one park job per topic (see SinkStages doc)
      topics.foreach { t =>
        val coll = s"__delay__$t"
        val batch = scheduled.filter(col("__topic") === t).drop("__topic")
        val merged =
          try ctx.store.read(coll).unionByName(batch, allowMissingColumns = true)
          catch { case _: Exception => batch }
        ctx.store.overwrite(coll, merged)
      }
    } finally typed.unpersist()
    typed.filter(col("__topic").isNull).select(col("key"), col("doc"))
  }

  /** `$probe` (Probe.java:29-84): complete-minute counts `{name, minute,
    * count}` to a topic; passthrough. `_clock` = event-time epoch millis. */
  private def probe(df: DataFrame, p: Probe, ctx: DynCtx): DataFrame = {
    val Probe(name, topic, clock) = p
    val clockOp = clock.map(DynExpr.compile)
    val enc3 = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong)
    val stamped = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val ms = clockOp.map(_.eval(DynExpr.DCtx(parse(s), Map.empty))) match {
          case Some(c) if c != null && c.isNumber => c.longValue
          case Some(c) if c != null && c.isTextual =>
            clockInstant(c.textValue).getOrElse(throw new IllegalArgumentException(
              s"$$probe _clock: unparseable instant '${c.textValue}'"))
          case _                                  => System.currentTimeMillis()
        }
        (k, s, ms - ms % 60000L)
      }
    }(enc3).toDF("key", "doc", "__minute").persist()
    val counted = stamped.groupBy(col("__minute")).agg(count(lit(1)).as("count"))
    val lastMinute = counted.agg(max("__minute").as("__last"))
    ctx.producer(counted.crossJoin(broadcast(lastMinute))
      .filter(col("__minute") < col("__last"))
      .select(lit(topic).as("__topic"), lit(name).as("name"),
        timestamp_millis(col("__minute")).as("minute"), col("count")))
    stamped.select(col("key"), col("doc"))
  }

  /** `_clock` string form: an ISO-8601 instant (the shape `$toDate`/typed
    * timestamp columns render to) → epoch millis. Brings the dynamic
    * engine to parity with the typed one, which casts any non-numeric
    * `_clock` through TimestampType; numbers stay epoch millis on both. */
  private def clockInstant(s: String): Option[Long] = {
    def p(str: String) =
      try Some(java.time.Instant.parse(str).toEpochMilli)
      catch { case _: Exception => None }
    // JDK 12+ ISO_INSTANT accepts ±hh:mm offsets directly, so try the string
    // verbatim FIRST (the old "append Z unless it ends in Z / contains +"
    // heuristic corrupted negative offsets: "…T00:00:01-05:00" → "…-05:00Z").
    // Only a string with NO offset designator after the 'T' gets a Z
    // appended (local time read as UTC, matching the typed engine's cast).
    p(s).orElse {
      val t = s.indexOf('T')
      val hasOffset = s.endsWith("Z") || s.endsWith("z") ||
        (t >= 0 && (s.indexOf('+', t) >= 0 || s.indexOf('-', t) >= 0))
      if (hasOffset) None else p(s + "Z")
    }
  }

  // ---- store stages -----------------------------------------------------------

  private val tuple3Enc =
    Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)

  /** Canonical string of a doc's `on` values (dotted paths), or null when
    * any is missing — the join/bucket key for dynamic store stages. Multi-
    * field keys join on NUL, which cannot appear inside rendered JSON. */
  private def onKey(doc: JsonNode, on: List[String]): String = {
    val parts = on.map { f =>
      val v = f.split('.').foldLeft(doc)((d, seg) =>
        if (d != null && d.isObject) d.path(seg) else MISSING)
      if (isMissing(v)) return null else canonical(v)
    }
    parts.mkString("\u0000")
  }

  /** `$merge` in dynamic mode (Merge.java:47-198): upsert JSON docs into a
    * store collection of schema (doc, __on) where `__on` is the canonical
    * `on` key — the same one-join classification as the typed stage,
    * schema-free, and the same bucketed incremental write path: when the
    * store is bucketed on `__on`, only the buckets the batch touches are
    * read and rewritten. whenMatched `merge` = top-level field overlay
    * (incoming wins per field), `replace`, `keepExisting`, `fail`;
    * whenNotMatched `insert` (fresh UUID `_id` if absent), `discard`,
    * `fail`. The echo re-keys on the result `_id` (Merge.java:142-179). */
  /** One compiled `whenMatched` update-pipeline stage: existing doc (+ the
    * bound vars, i.e. `new`) → updated doc. */
  private type UpdFn = (JsonNode, Map[String, JsonNode]) => JsonNode

  /** Mongo 4.4 `whenMatched` UPDATE PIPELINE stages (the typed engine's
    * Sinks.merge twin): $set/$addFields/$unset/$project/$replaceRoot/
    * $replaceWith over the EXISTING doc with `$$new` bound to the incoming
    * doc. Field names are top-level (both engines treat a dotted name as a
    * flat key here). Expressions evaluate against the PRE-stage doc. */
  private def compileUpdateStage(name: String, sp: JValue): UpdFn = name match {
    case "$set" | "$addFields" =>
      val fs = sp match {
        case JObject(fields) => fields.map { case (f, v) => (f, DynExpr.compile(v)) }
        case other => throw new IllegalArgumentException(
          s"$$merge whenMatched $name: expected an object, got $other")
      }
      (doc, vars) => {
        val pre = DynExpr.DCtx(doc, vars)
        val vals = fs.map { case (f, op) => (f, missingToNull(op.eval(pre))) }
        val d = doc.deepCopy[ObjectNode]()
        vals.foreach { case (f, v) => d.set[JsonNode](f, v) }
        d
      }
    case "$unset" =>
      val names = sp match {
        case JString(f) => Seq(f)
        case JArray(xs) => xs.map { case JString(f) => f
          case other => throw new IllegalArgumentException(s"$$unset: $other") }
        case other => throw new IllegalArgumentException(s"$$unset: $other")
      }
      (doc, _) => {
        val d = doc.deepCopy[ObjectNode]()
        names.foreach(d.remove)
        d
      }
    case "$project" =>
      val fields = sp match {
        case JObject(fs) => fs
        case other => throw new IllegalArgumentException(
          s"$$merge whenMatched $name: expected an object, got $other")
      }
      def falsy(v: JValue) = v == JInt(0) || v == JBool(false)
      val nonId = fields.filterNot(_._1 == "_id")
      if (nonId.nonEmpty && nonId.forall(e => falsy(e._2))) {
        val drop = fields.collect { case (f, v) if falsy(v) => f }
        (doc, _) => {
          val d = doc.deepCopy[ObjectNode]()
          drop.foreach(d.remove)
          d
        }
      } else {
        val keepId = !fields.exists(e => e._1 == "_id" && falsy(e._2))
        val items: List[(String, Option[DynExpr.DOp])] = fields.flatMap {
          case (_, v) if falsy(v)     => None
          case (f, JInt(n)) if n == 1 => Some((f, None))
          case (f, JBool(true))       => Some((f, None))
          case (f, v)                 => Some((f, Some(DynExpr.compile(v))))
        }
        (doc, vars) => {
          val pre = DynExpr.DCtx(doc, vars)
          val out = obj()
          if (keepId && doc.isObject && doc.has("_id"))
            out.set[JsonNode]("_id", doc.get("_id").deepCopy[JsonNode]())
          items.foreach {
            case (f, None) =>
              if (doc.isObject && doc.has(f))
                out.set[JsonNode](f, doc.get(f).deepCopy[JsonNode]())
            case (f, Some(op)) =>
              out.set[JsonNode](f, missingToNull(op.eval(pre)))
          }
          out
        }
      }
    case _ => // $replaceRoot | $replaceWith (StageSpec admits no other)
      val op = DynExpr.compile(
        if (name == "$replaceRoot") sp \ "newRoot" else sp)
      (doc, vars) => {
        val v = op.eval(DynExpr.DCtx(doc, vars))
        if (v == null || !v.isObject) throw new IllegalArgumentException(
          s"$$merge whenMatched $name must produce a document, got $v")
        v.deepCopy[JsonNode]()
      }
  }

  private def mergeStage(df: DataFrame, m: StageSpec.Merge, ctx: DynCtx): DataFrame = {
    require(ctx.store != null, "$merge needs a DocumentStore in dynamic mode")
    val StageSpec.Merge(into, on, whenMatched, updates, whenNotMatched, key) = m
    val matchPipe: Option[List[UpdFn]] =
      updates.map(_.map { case (n, sp) => compileUpdateStage(n, sp) })
    val keyOp = key.map(DynExpr.compile)

    val incoming = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (_, s) =>
        val doc = parse(s).deepCopy[ObjectNode]()
        keyOp.foreach { op =>
          val v = op.eval(DynExpr.DCtx(doc, Map.empty))
          doc.set[JsonNode]("_id", missingToNull(v))
        }
        val ok = onKey(doc, on)
        if (ok == null) throw new IllegalStateException(
          s"$$merge: message missing 'on' field(s) $on")
        (ok, render(doc))
      }
    }(tuple2Enc).toDF("__on", "doc")
      // last write per key wins (arrival order approximated by input order)
      .withColumn("__mid", monotonically_increasing_id())
      .groupBy(col("__on"))
      .agg(max_by(col("doc"), col("__mid")).as("doc"))
      .persist()

    val onCols = List("__on")
    // the semantic key spec: __on VALUES depend on the stage's on-field
    // list, so bucket pruning is only sound when the collection was last
    // bucketed under the SAME list (else: full-rewrite fallback below)
    val onSpec = on.mkString("\u0000")
    val bucketedN = ctx.store.bucketing(into, onCols, onSpec)
    val touched: Seq[Int] = bucketedN match {
      case Some(n) => incoming.select(
          graft.sources.DocumentStore.bucketColumn(onCols, n).as("__b"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq
      case None => Nil
    }
    val target = withOnKeys(bucketedN match {
      case Some(_) => ctx.store.readBuckets(into, touched)
      case None =>
        try ctx.store.read(into)
        catch { case _: Exception =>
          import df.sparkSession.implicits._
          Seq.empty[(String, String)].toDF("doc", "__on")
        }
    }, on)

    val j = target.select(col("doc").as("__tdoc"), col("__on").as("__ton"))
      .join(incoming.select(col("doc").as("__idoc"), col("__on").as("__ion")),
        col("__ton") <=> col("__ion"), "full_outer")
    val resolved = j.select(col("__tdoc"), col("__idoc"),
        coalesce(col("__ion"), col("__ton")).as("__on")).as(tuple3Enc)
      .mapPartitions { it =>
        it.flatMap { case (tdoc, idoc, onk) =>
          (Option(tdoc), Option(idoc)) match {
            case (Some(ts), Some(is)) =>
              val merged: JsonNode = matchPipe match {
                case Some(stages) =>
                  val vars = Map[String, JsonNode]("new" -> parse(is))
                  stages.foldLeft(parse(ts))((cur, st) => st(cur, vars))
                case None => whenMatched match {
                  case "replace"      => parse(is)
                  case "keepExisting" => parse(ts)
                  case "merge" =>
                    val o = parse(ts).deepCopy[ObjectNode]()
                    o.setAll[ObjectNode](parse(is).asInstanceOf[ObjectNode])
                    o
                  case _ /* fail */ => throw new IllegalStateException(
                    "$merge: whenMatched=fail and a match occurred")
                }
              }
              Iterator.single((render(merged), onk, "w"))
            case (None, Some(is)) =>
              whenNotMatched match {
                case "insert" =>
                  val o = parse(is).deepCopy[ObjectNode]()
                  if (!o.has("_id"))
                    o.set[JsonNode]("_id", text(java.util.UUID.randomUUID().toString))
                  Iterator.single((render(o), onk, "w"))
                case "discard" => Iterator.empty
                case _ /* fail */ => throw new IllegalStateException(
                  "$merge: whenNotMatched=fail and no match")
              }
            case (Some(ts), None) => Iterator.single((ts, onk, "k"))
            case (None, None)     => Iterator.empty
          }
        }
      }(tuple3Enc).toDF("doc", "__on", "__w").persist()

    val newTarget = resolved.select(col("doc"), col("__on"))
    bucketedN match {
      case Some(n) =>
        ctx.store.replaceBuckets(into, touched, newTarget.withColumn("__bucket",
          graft.sources.DocumentStore.bucketColumn(onCols, n)))
      case None => ctx.store match {
        case b: graft.sources.BucketedParquetStore =>
          b.seed(into, newTarget, onCols, onSpec)
        case _ => ctx.store.overwrite(into, newTarget)
      }
    }

    // echo: written docs, re-keyed by _id
    resolved.filter(col("__w") === "w").select("doc").as(Encoders.STRING)
      .mapPartitions { it =>
        it.map { s =>
          val d = parse(s)
          val id = d.path("_id")
          (if (id.isTextual) id.textValue
           else if (isMissing(id) || id.isNull) null
           else canonical(id), s)
        }
      }(tuple2Enc).toDF("key", "doc")
  }

  /** `$delete` (Delete.java:33-71): remove matching docs from the store
    * collection (only touched buckets rewritten when bucketed on the `on`
    * key); messages lacking the `on` fields are dropped, the rest pass
    * through. */
  private def delete(df: DataFrame, d: Delete, ctx: DynCtx): DataFrame = {
    require(ctx.store != null, "$delete needs a DocumentStore in dynamic mode")
    val Delete(from, on) = d
    val keyed = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) => (k, s, onKey(parse(s), on)) }
    }(tuple3Enc).toDF("key", "doc", "__k").persist()
    val valid = keyed.filter(col("__k").isNotNull)
    val keys = valid.select(col("__k").as("__on")).distinct()
    val onCols = List("__on")
    // bucket pruning only when the collection was last bucketed under the
    // SAME on-field list (see $merge's onSpec note); the full-rewrite seed
    // below MUST persist the SAME NUL-joined spec, or pruning on every
    // later same-list stage is silently disabled and a single field
    // literally named "a b" would collide with List("a","b")
    // (advisor find, r12)
    val deleteOnSpec = on.mkString("\u0000")
    ctx.store.bucketing(from, onCols, deleteOnSpec) match {
      case Some(n) =>
        val touched = keys.select(
            graft.sources.DocumentStore.bucketColumn(onCols, n).as("__b"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        val target = withOnKeys(ctx.store.readBuckets(from, touched), on)
        ctx.store.replaceBuckets(from, touched,
          target.join(keys, target("__on") <=> keys("__on"), "left_anti")
            .withColumn("__bucket",
              graft.sources.DocumentStore.bucketColumn(onCols, n)))
      case None =>
        val target = withOnKeys(ctx.store.read(from), on)
        val remaining =
          target.join(keys, target("__on") <=> keys("__on"), "left_anti")
        ctx.store match {
          // full rewrite recomputes __on under the CURRENT on list, so the
          // collection's bucketing key spec becomes this stage's list
          case b: graft.sources.BucketedParquetStore =>
            b.seed(from, remaining, onCols, deleteOnSpec)
          case other => other.overwrite(from, remaining)
        }
    }
    valid.select(col("key"), col("doc"))
  }

  /** `(doc, __on)` view of a store collection under the CURRENT `on` list.
    * `__on` is RECOMPUTED from each document rather than read back: a
    * collection seeded outside the engine carries no `__on` column at all,
    * and one last written under a DIFFERENT `on` list would carry stale
    * keys — the typed engine derives keys from its columns the same way
    * (sink-fuzz find, round 11). Bucketed layouts hash the stored `__on`,
    * so bucket PRUNING additionally requires the collection's last-write
    * on list to equal the stage's — enforced via the store's keySpec
    * metadata (round 12): a mismatch returns bucketing=None and the stage
    * takes the full-rewrite path, which is correct under any on list. */
  private def withOnKeys(target: DataFrame, on: List[String]): DataFrame =
    target.select(lit("").as("key"), col("doc")).as(tuple2Enc)
      .mapPartitions { it =>
        it.map { case (_, s) => (onKey(parse(s), on), s) }
      }(tuple2Enc).toDF("__on", "doc")

  /** `$lookup` equality form in dynamic mode (Lookup.java:83-109): one
    * hash-distributed equi-join on the canonical foreign value; matches are
    * pre-grouped on the `from` side so each message gains one array field.
    * `unwind: true` emits one message per match; `inner: true` drops
    * match-less messages. Pipeline-form lookups need the typed engine. */
  private def lookup(df: DataFrame, l: Lookup, ctx: DynCtx): DataFrame = {
    val (local, foreign) = l.local.getOrElse(return pipelineLookup(df, l, ctx))
    val (as, unwindFlag, inner) = (l.as, l.unwind, l.inner)
    val fromFrame = resolveFrom(l, ctx, df.sparkSession)

    val left = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) => (k, s, onKey(parse(s), List(local))) }
    }(tuple3Enc).toDF("key", "doc", "__lk")
    // matched docs ship as one NUL-joined string: NUL cannot appear inside
    // rendered JSON, and a primitive string column avoids a nested-array
    // encoder in the typed-tuple path
    val right = normalize(fromFrame).as(tuple2Enc).mapPartitions { it =>
      it.map { case (_, s) => (onKey(parse(s), List(foreign)), s) }
    }(tuple2Enc).toDF("__fk", "__fdoc")
      .filter(col("__fk").isNotNull)
      .groupBy(col("__fk")).agg(
        concat_ws("\u0000", collect_list(col("__fdoc"))).as("__matches"))

    left.join(right, col("__lk") <=> col("__fk"), "left")
      .select(col("key"), col("doc"),
        coalesce(col("__matches"), lit("")).as("__m")).as(tuple3Enc)
      .mapPartitions { it =>
        it.flatMap { case (k, s, m) =>
          val matches = if (m == null || m.isEmpty) Array.empty[String]
            else m.split('\u0000')
          val doc = parse(s).deepCopy[ObjectNode]()
          if (unwindFlag) {
            matches.iterator.map { ms =>
              val d = doc.deepCopy[ObjectNode]()
              d.set[JsonNode](as, parse(ms))
              (k, render(d))
            }
          } else {
            val a = arr()
            matches.foreach(ms => a.add(parse(ms)))
            doc.set[JsonNode](as, a)
            if (inner && a.isEmpty) Iterator.empty
            else Iterator.single((k, render(doc)))
          }
        }
      }(tuple2Enc).toDF("key", "doc")
  }

  /** `$lookup` let+pipeline form in dynamic mode, the typed engine's split
    * (Lookup.java:110-129) on schemaless docs:
    *  1. the longest prefix of sub-stages not referencing let-variables runs
    *     ONCE against `from` through a recursive dynamic pipeline;
    *  2. the first `$$var`-referencing stage must be a `$match` whose
    *     `$expr` is an equality (or `$and` of equalities) between a pure
    *     let-variable expression and a foreign-document expression — the
    *     hash-join keys (theta conditions need the typed engine's
    *     `_rangeJoin`);
    *  3. trailing `$sort`/`$limit`/`$project` apply per message on the
    *     matched array. */
  /** Resolve a `$lookup`-family `from` collection, honoring the remote
    * `connectionString`/`database` form (Lookup.java:74-78): a second
    * catalog keyed by the connection, defaulting to a connector-native
    * [[graft.sources.MongoStore]] read rendered to the engine's doc shape. */
  private def resolveFrom(l: Lookup, ctx: DynCtx,
      spark: org.apache.spark.sql.SparkSession): DataFrame = l.remote match {
    case Some((uri, dbn)) =>
      ctx.remoteCatalog.map(_(uri, dbn, l.from)).getOrElse {
        new graft.sources.MongoStore(spark, uri, dbn).read(l.from)
          .toJSON.toDF("doc")
      }
    case None => ctx.catalog(l.from)
  }

  private def pipelineLookup(df: DataFrame, l: Lookup, ctx: DynCtx): DataFrame = {
    val (as, unwindFlag, inner) = (l.as, l.unwind, l.inner)
    val letSpecs: List[(String, DynExpr.DOp)] =
      l.let.map { case (n, e) => n -> DynExpr.compile(e) }
    def refsVars(v: JValue): Boolean = StageSpec.refsVars(v, l.let.map(_._1).toSet)
    val (prefixStages, matchSpec, trailing) = (l.prefix, l.correlated, l.trailing)

    // correlated $match: all-$eq conditions hash-join (the scale path);
    // anything else (theta: $gt/$lte/$or/...) falls back to a SIZE-GUARDED
    // broadcast of the prefixed `from` side with per-message predicate
    // evaluation — the same posture as the typed engine's guarded
    // BroadcastNestedLoopJoin (Pipeline.scala `guarded`): exact semantics,
    // refused loudly when the dim side outgrows the broadcast threshold
    val corrExpr: Option[JValue] = matchSpec.map { m =>
      m \ "$expr" match {
        case JNothing => throw new IllegalArgumentException(
          "dynamic $lookup pipeline: correlated $match must use $expr")
        case e => e
      }
    }
    def eqsOpt(e: JValue): Option[List[(JValue, JValue)]] = e match {
      case JObject(List(("$eq", JArray(List(x, y))))) => Some(List((x, y)))
      case JObject(List(("$and", JArray(cs)))) =>
        val parts = cs.map(eqsOpt)
        if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get))
        else None
      case _ => None
    }
    val eqPairs: Option[List[(DynExpr.DOp, DynExpr.DOp)]] =
      corrExpr.flatMap(eqsOpt).flatMap { raw =>
        val classified = raw.map { case (x, y) =>
          (refsVars(x), refsVars(y)) match {
            case (true, false) => Some((DynExpr.compile(x), DynExpr.compile(y)))
            case (false, true) => Some((DynExpr.compile(y), DynExpr.compile(x)))
            case _             => None // e.g. both sides foreign -> theta path
          }
        }
        if (classified.forall(_.isDefined)) Some(classified.flatten)
        else None
      }
    val thetaOp: Option[DynExpr.DOp] =
      if (corrExpr.isDefined && eqPairs.isEmpty) corrExpr.map(DynExpr.compile)
      else None
    val localSides = eqPairs.getOrElse(Nil).map(_._1)
    val foreignSides = eqPairs.getOrElse(Nil).map(_._2)

    val fromFrame = resolveFrom(l, ctx, df.sparkSession)
    val effFrom = normalize(
      if (prefixStages.isEmpty) fromFrame
      else run(fromFrame, JArray(prefixStages), ctx))

    // no correlated $match -> every message gets the whole prefixed
    // collection under a constant key (like Mongo running the sub-pipeline)
    val left = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val doc = parse(s)
        val vars = letSpecs.map { case (n, op) =>
          n -> missingToNull(op.eval(DynExpr.DCtx(doc, Map.empty)))
        }.toMap
        val key =
          if (localSides.isEmpty) ""
          else localSides.map(op =>
            canonical(op.eval(DynExpr.DCtx(doc, vars)))).mkString("\u0000")
        (k, s, key)
      }
    }(tuple3Enc).toDF("key", "doc", "__lk")
    val right = effFrom.as(tuple2Enc).mapPartitions { it =>
      it.map { case (_, s) =>
        val doc = parse(s)
        val key =
          if (foreignSides.isEmpty) ""
          else foreignSides.map(op =>
            canonical(op.eval(DynExpr.DCtx(doc, Map.empty)))).mkString("\u0000")
        (key, s)
      }
    }(tuple2Enc).toDF("__fk", "__fdoc")
      .groupBy(col("__fk")).agg(
        concat_ws("\u0000", collect_list(col("__fdoc"))).as("__matches"))

    // trailing stages over the matched docs of ONE message
    def applyTrailing(xs: List[JsonNode]): List[JsonNode] =
      trailing.foldLeft(xs) { (acc, st) => st.args match {
        case Sort(keys) =>
          acc.sortWith { (a, b) =>
            keys.iterator.map { case (f, asc) =>
              DynJson.compare(DynExpr.resolve(a, f.split('.').toList),
                DynExpr.resolve(b, f.split('.').toList)) * (if (asc) 1 else -1)
            }.find(_ != 0).exists(_ < 0)
          }
        case Limit(n) => acc.take(n)
        case _ => // $project
          val fn = project(st.spec)
          acc.flatMap(d => fn((null, d)).map(_._2).toList)
      } }

    thetaOp match {
      case Some(op) =>
        // theta path: broadcast the prefixed `from` docs and evaluate the
        // FULL correlated predicate per (message, foreign doc) — exact but
        // O(n*m), so it is size-guarded exactly like the typed engine's
        // BroadcastNestedLoopJoin refusal (Pipeline.scala `guarded`): the
        // scale answer for band predicates stays _rangeJoin bucketing.
        val sess = df.sparkSession
        val foreignDocs = effFrom.select(col("doc")).collect().map(_.getString(0))
        val approxBytes = foreignDocs.iterator.map(_.length.toLong).sum
        val thresh = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          sess.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
        if (thresh > 0 && approxBytes > thresh) throw new IllegalArgumentException(
          s"dynamic $$lookup pipeline: theta correlation with a `from` side " +
            s"of ~$approxBytes bytes (> spark.sql.autoBroadcastJoinThreshold=" +
            s"$thresh) would evaluate O(n*m) — rewrite as $$eq correlation, " +
            "use the typed engine's _rangeJoin bucketing, or raise the " +
            "threshold if the `from` side truly fits in executor memory.")
        val bcast = sess.sparkContext.broadcast(foreignDocs)
        df.as(tuple2Enc).mapPartitions { it =>
          val fdocs = bcast.value.map(parse) // parsed once per partition
          it.flatMap { case (k, s) =>
            val doc0 = parse(s)
            val vars = letSpecs.map { case (n, lop) =>
              n -> missingToNull(lop.eval(DynExpr.DCtx(doc0, Map.empty)))
            }.toMap
            // deep-copy matches: trailing $project mutates in place and the
            // parsed foreign docs are shared across messages
            val matched0 = fdocs.iterator
              .filter(fd => truthy(op.eval(DynExpr.DCtx(fd, vars))))
              .map(copy).toList
            val matched = applyTrailing(matched0)
            val doc = doc0.deepCopy[ObjectNode]()
            if (unwindFlag) {
              matched.iterator.map { md =>
                val d = doc.deepCopy[ObjectNode]()
                d.set[JsonNode](as, md)
                (k, render(d))
              }
            } else {
              val a = arr()
              matched.foreach(a.add)
              doc.set[JsonNode](as, a)
              if (inner && a.isEmpty) Iterator.empty
              else Iterator.single((k, render(doc)))
            }
          }
        }(tuple2Enc).toDF("key", "doc")

      case None =>

        left.join(right, col("__lk") <=> col("__fk"), "left")
          .select(col("key"), col("doc"),
            coalesce(col("__matches"), lit("")).as("__m")).as(tuple3Enc)
          .mapPartitions { it =>
            it.flatMap { case (k, s, m) =>
              val matched0 = if (m == null || m.isEmpty) List.empty[JsonNode]
                else m.split('\u0000').toList.map(parse)
              val matched = applyTrailing(matched0)
              val doc = parse(s).deepCopy[ObjectNode]()
              if (unwindFlag) {
                matched.iterator.map { md =>
                  val d = doc.deepCopy[ObjectNode]()
                  d.set[JsonNode](as, md)
                  (k, render(d))
                }
              } else {
                val a = arr()
                matched.foreach(a.add)
                doc.set[JsonNode](as, a)
                if (inner && a.isEmpty) Iterator.empty
                else Iterator.single((k, render(doc)))
              }
            }
          }(tuple2Enc).toDF("key", "doc")
    }
  }

  /** The values of `op` as canonical strings: arrays fan out to their
    * elements, scalars are one value, null/missing is none. */
  private def evalVals(op: DynExpr.DOp, doc: JsonNode): List[String] = {
    val v = op.eval(DynExpr.DCtx(doc, Map.empty))
    if (v == null || v.isNull || isMissing(v)) Nil
    else if (v.isArray)
      v.asScala.toList.collect {
        case e if !(e == null || e.isNull || isMissing(e)) => canonical(e)
      }
    else List(canonical(v))
  }

  /** `$vectorSearch` in dynamic mode: the embedding parses out of each doc
    * and scores cosine against the literal query in ONE mapPartitions pass
    * (no shuffle until the TakeOrdered top-`limit`); the score lands in the
    * hidden `__vsScore` field where `{"$meta": "vectorSearchScore"}` reads
    * it. Docs whose `path` is missing / not an array of the query's length
    * are dropped, like a vector index would skip them. */
  private def vectorSearch(df: DataFrame, spec: JValue): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val path = spec \ "path" match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"$$vectorSearch path: $other")
    }
    val qv: Array[Double] = spec \ "queryVector" match {
      case JArray(xs) => xs.map {
        case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
        case JDecimal(d) => d.toDouble
        case other => throw new IllegalArgumentException(s"queryVector: $other")
      }.toArray
      case other => throw new IllegalArgumentException(s"queryVector: $other")
    }
    val limit = spec \ "limit" match {
      case JInt(n) if n > 0 => n.toInt
      case other => throw new IllegalArgumentException(s"$$vectorSearch limit: $other")
    }
    val pred = spec \ "filter" match {
      case JNothing | JNull => None
      case m                => Some(DynMatch.compile(m))
    }
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("__score", DoubleType)))
    val scored = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.flatMap { case (k, s) =>
        val d = parse(s)
        if (pred.exists(p => !p.test(DynExpr.DCtx(d, Map.empty)))) Iterator.empty
        else {
          val v = path.split('.').foldLeft(d)((n, seg) =>
            if (n != null && n.isObject) n.path(seg) else MISSING)
          if (v == null || !v.isArray || v.size != qv.length) Iterator.empty
          else {
            var dot = 0d; var nn = 0d; var ok = true; var i = 0
            while (ok && i < qv.length) {
              val e = v.get(i)
              if (e.isNumber) { val x = e.doubleValue; dot += x * qv(i); nn += x * x }
              else ok = false
              i += 1
            }
            if (!ok) Iterator.empty
            else {
              val denom = math.sqrt(nn) * qn
              val score = if (denom > 0) dot / denom else 0d
              val od = d.asInstanceOf[ObjectNode]
              od.put("__vsScore", score)
              Iterator.single(Row(k, render(od), score))
            }
          }
        }
      }
    }(Encoders.row(schema))
    scored.orderBy(col("__score").desc).limit(limit).select("key", "doc")
  }

  /** `$geoNear` in dynamic mode: one extraction pass computes the
    * spherical (haversine, Mongo's 6378100 m radius for GeoJSON meters;
    * radians for legacy+spherical) or planar distance from the fixed
    * `near` point to each doc's `key` location, applies the `query`
    * pre-filter and the raw-distance bounds, embeds
    * `distanceField = raw * distanceMultiplier`, and orders nearest first
    * on a side column (range-partitioned sort, same as the typed engine).
    * Docs with a missing/malformed location drop, like docs absent from a
    * geo index. */
  private def geoNear(df: DataFrame, spec: JValue): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    def num(v: JValue, what: String): Double = v match {
      case JDouble(d) => d; case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble; case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"$$geoNear $what: $other")
    }
    val (nearX, nearY, geoJson) = spec \ "near" match {
      case JArray(List(x, y)) => (num(x, "near"), num(y, "near"), false)
      case o: JObject =>
        o \ "type" match {
          case JString("Point") => ()
          case other => throw new IllegalArgumentException(
            s"$$geoNear near.type: only Point is supported, got $other")
        }
        val JArray(List(x, y)) = ((o \ "coordinates"): @unchecked)
        (num(x, "near"), num(y, "near"), true)
      case other => throw new IllegalArgumentException(s"$$geoNear near: $other")
    }
    val JString(distanceField) = ((spec \ "distanceField"): @unchecked)
    val keyField = spec \ "key" match {
      case JString(k) => k
      case _ => throw new IllegalArgumentException(
        "$geoNear: `key` (the location field) is required — there is no " +
          "geo index to infer it from")
    }
    val spherical = spec \ "spherical" match {
      case JBool(b) => b; case JNothing => geoJson
      case other => throw new IllegalArgumentException(s"$$geoNear spherical: $other")
    }
    if (geoJson && !spherical) throw new IllegalArgumentException(
      "$geoNear: a GeoJSON near point is always spherical")
    val multiplier = spec \ "distanceMultiplier" match {
      case JNothing => 1d; case v => num(v, "distanceMultiplier")
    }
    val minD = spec \ "minDistance" match {
      case JNothing => Double.NegativeInfinity; case v => num(v, "minDistance") }
    val maxD = spec \ "maxDistance" match {
      case JNothing => Double.PositiveInfinity; case v => num(v, "maxDistance") }
    val pred = spec \ "query" match {
      case JNothing | JNull => None
      case m                => Some(DynMatch.compile(m))
    }
    val includeLocs = spec \ "includeLocs" match {
      case JString(f) => Some(f); case JNothing => None
      case other => throw new IllegalArgumentException(s"$$geoNear includeLocs: $other")
    }
    val earthR = 6378100d
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("__gd", DoubleType)))
    val scored = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.flatMap { case (k, s) =>
        val d = parse(s)
        if (pred.exists(p => !p.test(DynExpr.DCtx(d, Map.empty)))) Iterator.empty
        else {
          val loc0 = keyField.split('.').foldLeft(d)((n, seg) =>
            if (n != null && n.isObject) n.path(seg) else MISSING)
          val coords =
            if (loc0 != null && loc0.isObject && loc0.has("coordinates"))
              loc0.get("coordinates")
            else loc0
          if (coords == null || !coords.isArray || coords.size != 2 ||
              !coords.get(0).isNumber || !coords.get(1).isNumber) Iterator.empty
          else {
            val x = coords.get(0).doubleValue; val y = coords.get(1).doubleValue
            val raw =
              if (spherical) {
                val phi1 = math.toRadians(nearY); val phi2 = math.toRadians(y)
                val dPhi = math.toRadians(y - nearY)
                val dLam = math.toRadians(x - nearX)
                val h = math.pow(math.sin(dPhi / 2), 2) +
                  math.cos(phi1) * math.cos(phi2) * math.pow(math.sin(dLam / 2), 2)
                val rad = 2 * math.asin(math.sqrt(h))
                if (geoJson) rad * earthR else rad
              } else
                math.sqrt(math.pow(x - nearX, 2) + math.pow(y - nearY, 2))
            if (raw < minD || raw > maxD) Iterator.empty
            else {
              val od = d.asInstanceOf[ObjectNode]
              includeLocs.foreach(f => od.set[JsonNode](f, loc0.deepCopy[JsonNode]()))
              od.put(distanceField, raw * multiplier)
              Iterator.single(Row(k, render(od), raw * multiplier))
            }
          }
        }
      }
    }(Encoders.row(schema))
    scored.orderBy(col("__gd").asc).select("key", "doc")
  }

  /** `$search` in dynamic mode (Atlas `text` operator subset): BM25
    * relevance (k1 = 1.2, b = 0.75) over whitespace tokens of the `path`
    * field(s). One extraction pass computes per-doc length and term
    * frequencies; ONE aggregate row (N, avgdl, per-term document
    * frequencies) broadcasts back; only docs matching ≥ 1 term survive,
    * scored into the hidden `__searchScore` field for
    * `{"$meta": "searchScore"}`, highest first. */
  private def search(df: DataFrame, spec: JValue): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val text = spec \ "text" match {
      case o: JObject => o
      case _ => throw new IllegalArgumentException(
        "$search: only the text operator is supported")
    }
    val JString(query) = ((text \ "query"): @unchecked)
    val paths: Seq[String] = text \ "path" match {
      case JString(p) => Seq(p)
      case JArray(ps) => ps.map { case JString(p) => p
        case other => throw new IllegalArgumentException(s"$$search path: $other") }
      case other => throw new IllegalArgumentException(s"$$search path: $other")
    }
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "$search: empty query")
    val (k1, b) = (1.2, 0.75)
    val pathOps = paths.map(p => DynExpr.compile(JString("$" + p)))
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("__dl", DoubleType)) ++
      terms.indices.map(i => StructField(s"__tf$i", LongType)))
    val extracted = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val dctx = DynExpr.DCtx(parse(s), Map.empty)
        val words = pathOps.flatMap { op =>
          val v = op.eval(dctx)
          if (v != null && v.isTextual)
            v.textValue.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          else Nil
        }
        Row.fromSeq(Seq(k, s, words.size.toDouble) ++
          terms.map(t => words.count(_ == t).toLong))
      }
    }(Encoders.row(schema))
    val statAggs = count(lit(1)).cast(DoubleType).as("__n") +:
      avg(col("__dl")).as("__avgdl") +:
      terms.indices.map(i =>
        sum((col(s"__tf$i") > 0L).cast("long")).cast(DoubleType).as(s"__df$i"))
    val stats = extracted.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast(DoubleType)
      val idf = log((col("__n") - col(s"__df$i") + 0.5) /
        (col(s"__df$i") + 0.5) + 1.0)
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    extracted.crossJoin(broadcast(stats))
      .withColumn("__sc", score)
      .filter(col("__sc") > 0d)
      .orderBy(col("__sc").desc)
      .select(col("key"), col("doc"), col("__sc"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaDouble))
      .mapPartitions { it =>
        it.map { case (k, s, sc) =>
          val d = parse(s).asInstanceOf[ObjectNode]
          d.put("__searchScore", sc)
          (k, render(d))
        }
      }(tuple2Enc).toDF("key", "doc")
  }

  /** `$rankFusion` in dynamic mode (Mongo 8.1 hybrid search): each input
    * pipeline is a bounded SELECTION pipeline (validated: only match/sort/
    * limit/skip/sample/vectorSearch, and a `$limit` or `$vectorSearch` must
    * cap it), ranked by its trailing `$sort`'s [[DynJson.sortableKey]]
    * binaries (cross-type BSON order) or by the vector score, `_id`
    * canonical tie-break; weighted 1/(60+rank) contributions fuse per
    * DISTINCT `_id`. The fused score lands in the hidden `__score` field
    * where `{"$meta": "score"}` reads it. Rank windows only ever span the
    * bounded candidate lists — never the whole stream. */
  private def rankFusion(df: DataFrame, f: Fusion, ctx: DynCtx): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val idOp = DynExpr.compile(JString("$_id"))
    val contribs = f.inputs.map { case (pname, stages) =>
      val out = run(df, stages, ctx, keepScores = true)
      // rank order: trailing $sort keys (binary BSON order), else the score
      val sortOps: List[(DynExpr.DOp, Boolean)] =
        stages.reverse.collectFirst { case Stage(_, _, _, _, Sort(keys)) =>
          keys.map { case (k, asc) => (DynExpr.compile(JString("$" + k)), asc) }
        }.getOrElse(List((DynExpr.compile(JString(
          if (stages.exists(_.name == "$vectorSearch")) "$__vsScore"
          else "$__searchScore")), false)))
      val schema = StructType(Seq(StructField("key", StringType),
        StructField("doc", StringType), StructField("__fid", StringType)) ++
        sortOps.indices.map(i => StructField(s"__s$i", BinaryType)))
      val extracted = normalize(out).as(tuple2Enc).mapPartitions { it =>
        it.map { case (k, s) =>
          val dctx = DynExpr.DCtx(parse(s), Map.empty)
          Row.fromSeq(Seq(k, s, canonical(idOp.eval(dctx))) ++
            sortOps.map { case (op, _) => sortableKey(op.eval(dctx)) })
        }
      }(Encoders.row(schema))
      val w = f.weights.getOrElse(pname, 1d)
      val rank = row_number().over(Window.orderBy(
        sortOps.zipWithIndex.map { case ((_, asc), i) =>
          if (asc) col(s"__s$i").asc else col(s"__s$i").desc
        } :+ col("__fid").asc: _*))
      extracted.select(col("key"), col("doc"), col("__fid"),
        (lit(w) / (lit(60) + rank)).as("__rrf"))
    }
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("__fid"))
      .agg(first(col("key")).as("key"), first(col("doc")).as("doc"),
        sum(col("__rrf")).as("__score"))
    fused.orderBy(col("__score").desc, col("__fid"))
      .select(col("key"), col("doc"), col("__score"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaDouble))
      .mapPartitions { it =>
        it.map { case (k, s, score) =>
          val d = parse(s).asInstanceOf[ObjectNode]
          d.put("__score", score)
          (k, render(d))
        }
      }(tuple2Enc).toDF("key", "doc")
  }

  /** Fold the `__s` column into each doc's hidden `__score` field. */
  private def embedScore(df: DataFrame): DataFrame = df
    .select(col("key"), col("doc"), col("__s"))
    .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.DOUBLE))
    .mapPartitions { it =>
      it.map { case (k, s, sc) =>
        val d = parse(s).asInstanceOf[ObjectNode]
        // null score stays MISSING, matching the typed engine's JSON dump
        // (toJSON drops the null __score column)
        if (sc ne null) d.put("__score", sc.doubleValue)
        (k, render(d))
      }
    }(tuple2Enc).toDF("key", "doc")

  /** Mirrors Spark's cast-to-double, so dynamic `$score`/`$scoreFusion`
    * agree with the typed engine's `cast(DoubleType)` on the score
    * expression: numbers pass through, numeric strings parse (trimmed),
    * booleans become 1/0, and null/missing/object/array/non-numeric
    * strings yield SQL NULL — previously NullNode.doubleValue silently
    * coerced all of those to 0.0, a cross-engine divergence. */
  private def castDouble(v: JsonNode): java.lang.Double =
    if (v == null || v.isNull || v.isMissingNode) null
    else if (v.isNumber) v.doubleValue
    else if (v.isBoolean) { if (v.booleanValue) 1d else 0d }
    else if (v.isTextual) {
      try java.lang.Double.valueOf(v.textValue.trim)
      catch { case _: NumberFormatException => null }
    } else null

  /** `$score` in dynamic mode (Mongo 8.2): evaluates `score` per document
    * into the hidden `__score` field ({"$meta": "score"} reads it), with
    * optional sigmoid / minMaxScaler normalization. */
  private def score(df: DataFrame, sc: Score): DataFrame = {
    val op = DynExpr.compile(sc.score)
    val withS = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val v = op.eval(DynExpr.DCtx(parse(s), Map.empty))
        (k, s, castDouble(v))
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.DOUBLE))
      .toDF("key", "doc", "__s")
    embedScore(graft.Stages.normalizeScore(withS, "__s", sc.normalization))
  }

  /** `$scoreFusion` in dynamic mode (Mongo 8.1, score flavor): each input
    * pipeline must PRODUCE a score ($score / $vectorSearch / $search);
    * scores normalize per pipeline (input.normalization), weight, and
    * combine as sum/nPipelines per distinct `_id` — a document absent from
    * a pipeline contributes 0 from it, the same absent rule as
    * $rankFusion's RRF. No rank window, so inputs need no boundedness. */
  private def scoreFusion(df: DataFrame, f: Fusion, ctx: DynCtx): DataFrame = {
    val norm = f.normalization
    val idOp = DynExpr.compile(JString("$_id"))
    val nPipes = f.inputs.size
    val contribs = f.inputs.map { case (pname, stages) =>
      val names = stages.map(_.name)
      val scoreField =
        if (names.contains("$score")) "$__score"
        else if (names.contains("$vectorSearch")) "$__vsScore"
        else "$__searchScore"
      // Fused bridge: when the pipeline is doc-local stages ending in
      // `$score` (the common shape), evaluate the whole pipeline + the
      // _id/score extraction in ONE mapPartitions pass — the generic path
      // below costs 3 extra parse/render round trips of every doc (score
      // barrier, embedScore, re-extract), which made this the slowest
      // dynamic pole.
      val lastScore = stages.lastOption.collect { case Stage(_, _, _, _, s: Score) => s }
      val prefixFns = lastScore.collect {
        case _ if stages.init.forall(_.info.fusable) => stages.init.map(compileDocStage)
      }
      val extracted = (lastScore, prefixFns) match {
        case (Some(sc), Some(fns)) =>
          val sOp = DynExpr.compile(sc.score)
          val composed: DocFn = fns match {
            case Nil           => (m: Msg) => Iterator.single(m)
            case single :: Nil => single
            case many =>
              msg => many.foldLeft(Iterator.single(msg))((it, f) => it.flatMap(f))
          }
          val raw = normalize(df).as(tuple2Enc).mapPartitions { it =>
            it.flatMap { case (k, s) =>
              val d0 = parse(s)
              composed((k, d0)).map { case (k2, d2) =>
                val dctx = DynExpr.DCtx(d2, Map.empty)
                // a non-mutating prefix ($match) keeps the original string:
                // no re-render of an identical doc
                (k2, if (d2 eq d0) s else render(d2),
                  canonical(idOp.eval(dctx)), castDouble(sOp.eval(dctx)))
              }
            }
          }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING,
            Encoders.DOUBLE)).toDF("key", "doc", "__fid", "__s")
          graft.Stages.normalizeScore(raw, "__s", sc.normalization)
        case _ =>
          val sOp = DynExpr.compile(JString(scoreField))
          val out = run(df, stages, ctx, keepScores = true)
          normalize(out).as(tuple2Enc).mapPartitions { it =>
            it.map { case (k, s) =>
              val dctx = DynExpr.DCtx(parse(s), Map.empty)
              (k, s, canonical(idOp.eval(dctx)), castDouble(sOp.eval(dctx)))
            }
          }(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING,
            Encoders.DOUBLE)).toDF("key", "doc", "__fid", "__s")
      }
      val w = f.weights.getOrElse(pname, 1d)
      graft.Stages.normalizeScore(extracted, "__s", norm)
        .select(col("key"), col("doc"), col("__fid"),
          (lit(w) * col("__s")).as("__ws"))
    }
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("__fid"))
      .agg(first(col("key")).as("key"), first(col("doc")).as("doc"),
        (sum(col("__ws")) / lit(nPipes.toDouble)).as("__s"))
    embedScore(fused.orderBy(col("__s").desc, col("__fid")))
  }

  /** `$bucketAuto` in dynamic mode: the groupBy value's cross-type BSON
    * order rides a binary sortableKey through a DISTRIBUTED global rank
    * ([[graft.operators.GlobalRank]]: range exchange + per-partition rank,
    * no single-partition window); the bucket id and canonical groupBy value
    * embed into each doc, and the per-bucket aggregation reuses the fused
    * dynamic `$group` (one DynGroupAgg, so the user's `output` accumulators
    * all apply). Boundaries chain Mongo-style afterwards over the handful
    * of bucket rows. */
  private def bucketAuto(df: DataFrame, spec: JValue): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val gbOp = DynExpr.compile(spec \ "groupBy")
    val b = spec \ "buckets" match {
      case JInt(n) if n > 0 => n.toInt
      case other => throw new IllegalArgumentException(s"$$bucketAuto buckets: $other")
    }
    if ((spec \ "granularity") != JNothing) throw new IllegalArgumentException(
      "$bucketAuto granularity is not supported; use explicit $bucket boundaries")
    val outputs: List[(String, JValue)] = spec \ "output" match {
      case JObject(fs) => fs
      case JNothing    => List("count" -> JObject(List("$sum" -> JInt(1))))
      case other => throw new IllegalArgumentException(s"$$bucketAuto output: $other")
    }
    val accs = StageSpec.accumulators(outputs) // before the ranking runs its jobs
    val exSchema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("__b", BinaryType),
      StructField("__gv", StringType)))
    val extracted = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val v = gbOp.eval(DynExpr.DCtx(parse(s), Map.empty))
        Row(k, s, sortableKey(v),
          if (v == null || isMissing(v)) "null" else canonical(v))
      }
    }(Encoders.row(exSchema))
    val ranked = graft.operators.GlobalRank
      .withRank(extracted.toDF(), "__b", "__rk", "__n")
      .withColumn("__bk", expr(s"((__rk - 1) * $b) div __n"))
    val docs2 = ranked.select(col("key"), col("doc"), col("__bk"), col("__gv"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        it.map { case (k, s, bk, gv) =>
          val d = parse(s).asInstanceOf[ObjectNode]
          d.put("__bucket", bk)
          d.set[JsonNode]("__gv", parse(gv))
          (k, render(d))
        }
      }(tuple2Enc).toDF("key", "doc")
    val grouped = group(docs2, Group(JString("$__bucket"),
      Acc("__min", "$min", JString("$__gv")) :: Acc("__max", "$max", JString("$__gv")) :: accs))
    val gSchema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType), StructField("__id", LongType),
      StructField("__minC", StringType)))
    val withMin = grouped.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val d = parse(s)
        Row(k, s, d.path("_id").longValue, canonical(d.path("__min")))
      }
    }(Encoders.row(gSchema))
      .withColumn("__nextMin", lead(col("__minC"), 1).over(Window.orderBy(col("__id"))))
    withMin.select(col("key"), col("doc"), col("__nextMin")).as(tuple3Enc)
      .mapPartitions { it =>
        it.map { case (_, s, nextMin) =>
          val d = parse(s).asInstanceOf[ObjectNode]
          val id = obj()
          id.set[JsonNode]("min", d.path("__min"))
          id.set[JsonNode]("max",
            if (nextMin != null) parse(nextMin) else d.path("__max"))
          d.set[JsonNode]("_id", id)
          d.remove("__min"); d.remove("__max")
          (canonical(id), render(d))
        }
      }(tuple2Enc).toDF("key", "doc")
  }

  /** `$graphLookup` in dynamic mode: the same origin-keyed distributed BFS
    * as the typed engine ([[graft.Stages.graphLookup]]) over schemaless
    * docs — BFS state is keyed by the DISTINCT canonical startWith value,
    * each round is one hash equi-join on the canonical `connectToField`
    * value plus a visited anti-join, localCheckpointed. Array
    * startWith/connectFromField values fan out; reached docs re-group per
    * source row at their min (BFS) depth and embed into `as`. */
  private def graphLookup(df: DataFrame, spec: JValue, ctx: DynCtx): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val from = spec \ "from" match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"$$graphLookup from: $other")
    }
    val as = spec \ "as" match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"$$graphLookup as: $other")
    }
    val JString(connectFrom) = ((spec \ "connectFromField"): @unchecked)
    val JString(connectTo) = ((spec \ "connectToField"): @unchecked)
    val maxDepth: Option[Int] = spec \ "maxDepth" match {
      case JInt(d) => Some(d.toInt); case JNothing => None
      case other => throw new IllegalArgumentException(s"maxDepth: $other")
    }
    val depthField: Option[String] = spec \ "depthField" match {
      case JString(f) => Some(f); case JNothing => None
      case other => throw new IllegalArgumentException(s"depthField: $other")
    }
    val pred = spec \ "restrictSearchWithMatch" match {
      case JNothing | JNull => None
      case m                => Some(DynMatch.compile(m))
    }
    val startOp = DynExpr.compile(spec \ "startWith")
    val nextOp = DynExpr.compile(JString("$" + connectFrom))
    // from side packed once: (canonical to-key, NUL-joined next values, doc)
    val fromPacked = normalize(ctx.catalog(from)).as(tuple2Enc).mapPartitions { it =>
      it.flatMap { case (_, s) =>
        val d = parse(s)
        if (pred.exists(p => !p.test(DynExpr.DCtx(d, Map.empty)))) Iterator.empty
        else {
          val to = onKey(d, List(connectTo))
          if (to == null) Iterator.empty
          else Iterator.single((to, evalVals(nextOp, d).mkString("\u0000"), s))
        }
      }
    }(tuple3Enc).toDF("__to", "__next", "__doc")
    val origins = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.flatMap { case (_, s) => evalVals(startOp, parse(s)) }
    }(Encoders.STRING).toDF("__start").distinct()
    var frontier = origins.select(col("__start"), col("__start").as("__node"))
    var visited: DataFrame = null
    var found: DataFrame = null
    var depth = 0
    var done = false
    val roundRows = df.sparkSession.sparkContext.longAccumulator("dynGraphLookupRound")
    while (!done) {
      val hits = frontier
        .join(fromPacked, frontier("__node") === fromPacked("__to"))
        .select(col("__start"), col("__doc"), col("__next"),
          xxhash64(col("__doc")).as("__h"))
      val pre = (if (visited == null) hits
                 else hits.join(visited, Seq("__start", "__h"), "left_anti"))
        .dropDuplicates("__start", "__h")
      // ONE Spark job per BFS round (same shape as the typed engine): the
      // round's row count rides the eager localCheckpoint in an accumulator,
      // and `visited` stays an un-checkpointed linear union of checkpointed
      // per-round slices
      roundRows.reset()
      val newDocs = pre.mapPartitions { it =>
        it.map { r => roundRows.add(1L); r }
      }(Encoders.row(pre.schema)).toDF().localCheckpoint()
      if (roundRows.value == 0L) done = true
      else {
        val stamped = newDocs.select(col("__start"), col("__h"), col("__doc"),
          lit(depth.toLong).as("__depth"))
        found = if (found == null) stamped else found.union(stamped)
        val newVisited = newDocs.select(col("__start"), col("__h"))
        visited = if (visited == null) newVisited
                  else visited.union(newVisited)
        if (maxDepth.exists(depth >= _)) done = true
        else {
          frontier = newDocs
            .select(col("__start"), explode(split(col("__next"), "\u0000")).as("__node"))
            .filter(length(col("__node")) > 0).distinct()
          depth += 1
        }
      }
    }
    val src = normalize(df).toDF("key", "doc")
      .withColumn("__gid", monotonically_increasing_id()).localCheckpoint()
    def embed(withChain: DataFrame): DataFrame =
      withChain.mapPartitions { rows =>
        rows.map { r =>
          val d = parse(r.getString(1)).asInstanceOf[ObjectNode]
          val a = arr()
          if (!r.isNullAt(2)) r.getSeq[Row](2).foreach { e =>
            val node = parse(e.getString(0)).asInstanceOf[ObjectNode]
            depthField.foreach(f => node.put(f, e.getLong(1)))
            a.add(node)
          }
          d.set[JsonNode](as, a)
          (if (r.isNullAt(0)) null else r.getString(0), render(d))
        }
      }(tuple2Enc).toDF("key", "doc")
    if (found == null)
      return embed(src.select(col("key"), col("doc"),
        lit(null).cast("array<struct<d:string,dep:bigint>>").as("__chain")))
    val elemSchema = StructType(Seq(StructField("__gid", LongType),
      StructField("__start", StringType)))
    val elems = src.select(col("__gid"), col("doc")).mapPartitions { rows =>
      rows.flatMap { r =>
        val gid = r.getLong(0)
        evalVals(startOp, parse(r.getString(1))).map(v => Row(gid, v))
      }
    }(Encoders.row(elemSchema))
    val best = elems.join(found, "__start" :: Nil)
      .groupBy(col("__gid"), col("__h"))
      .agg(min(col("__depth")).as("__depth"), first(col("__doc")).as("__doc"))
    val packed = best.groupBy("__gid")
      .agg(collect_list(struct(col("__doc").as("d"), col("__depth").as("dep")))
        .as("__chain"))
    embed(src.join(packed, Seq("__gid"), "left")
      .select(col("key"), col("doc"), col("__chain")))
  }

  /** $group: map-side canonical key extraction, ONE fused DynGroupAgg for
    * every accumulator (partial aggregation before the single shuffle),
    * then a per-group document assembly. Output key = canonical _id. */
  private def group(df: DataFrame, g: Group): DataFrame = {
    val idOp = DynExpr.compile(g.id)
    val keyed = df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (_, s) =>
        val doc = parse(s)
        (canonical(idOp.eval(DynExpr.DCtx(doc, Map.empty))), s)
      }
    }(tuple2Enc).toDF("__gkey", "doc")

    val aggCol: Column = ColumnBridge.column(
      graft.functions.DynGroupAgg(ColumnBridge.expression(col("doc")), g.accs)
        .toAggregateExpression())
    val agged = keyed.groupBy(col("__gkey")).agg(aggCol.as("__aggs"))

    agged.select(col("__gkey"), col("__aggs")).as(tuple2Enc).mapPartitions { it =>
      it.map { case (gkey, aggs) =>
        val out = obj()
        out.set[JsonNode]("_id", parse(gkey))
        parse(aggs).asInstanceOf[ObjectNode].fields().asScala
          .foreach(e => out.set[JsonNode](e.getKey, e.getValue))
        (gkey, render(out))
      }
    }(tuple2Enc).toDF("key", "doc")
  }

  /** `$setWindowFields` in DYNAMIC mode: the cross-type BSON order rides in
    * a BinaryType [[DynJson.sortableKey]] column (order-preserving byte
    * encoding), so Spark's Window machinery — ONE hash exchange on the
    * canonical partition key + a per-partition sort — executes Mongo window
    * semantics over schemaless documents. Numeric windows carry
    * (double, wasIntegral) pairs so integer sums stay integers; $min/$max/
    * $addToSet order by the binary key and return canonical values; $push/
    * $first/$last/$shift round-trip canonical JSON. $shift's default fills
    * ONLY out-of-frame positions (data nulls round-trip as the string
    * "null"). The calculus/statistics family ($stdDevPop/Samp,
    * $covariancePop/Samp, $derivative, $integral, $linearFill,
    * $expMovingAvg) and `window.range` frames ride a numeric axis column
    * (numbers as-is, dates as epoch millis, `unit`-rescaled) — same shapes
    * as the typed engine, incl. the incremental [[graft.functions.EmaAgg]]. */
  private def setWindowFields(df: DataFrame, w: SetWindowFields): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row

    val partOp = w.partitionBy.map(DynExpr.compile)
    val sortOps: List[(DynExpr.DOp, Boolean)] =
      w.sortBy.map { case (f, asc) => (DynExpr.compile(JString("$" + f)), asc) }
    /** One output's compiled expressions ($top family: `sortOut` keys). */
    case class Out(o: WinOut) {
      val (op, frame, rangeFrame, runit, unit) =
        (o.op, o.frame.documents, o.frame.range, o.frame.unit, o.unit)
      val input: Option[DynExpr.DOp] =
        if (StageSpec.rankOps(op)) None else Some(DynExpr.compile(o.input))
      val input2: Option[DynExpr.DOp] = o.y match {
        case JNothing => None
        case y        => Some(DynExpr.compile(y))
      }
      val default: Option[String] = o.default.map(d =>
        org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(d)))
      val sortOut: List[(DynExpr.DOp, Boolean)] =
        o.sortBy.map { case (f, asc) => (DynExpr.compile(JString("$" + f)), asc) }
    }
    val outs = w.outputs.map(Out)
    val needAxis = outs.exists(o => StageSpec.axisOps(o.op) || o.rangeFrame.nonEmpty)

    // extraction pass: canonical partition key, binary sort keys, and per-
    // output value columns — documents never re-parse after this point
    // numeric-input window ops: one SQL double per row (null skips)
    val numOps = Set("$stdDevPop", "$stdDevSamp", "$linearFill",
      "$expMovingAvg", "$derivative", "$integral", "$median", "$percentile")
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("doc", StringType),
      StructField("__p", StringType)) ++
      (if (needAxis) Seq(StructField("__x", DoubleType)) else Nil) ++
      sortOps.indices.map(i => StructField(s"__s$i", BinaryType)) ++
      outs.zipWithIndex.flatMap { case (o, i) => o.op match {
        case "$sum" | "$avg" =>
          Seq(StructField(s"__v$i", DoubleType), StructField(s"__int$i", BooleanType))
        case "$min" | "$max" | "$addToSet" | "$minN" | "$maxN" =>
          Seq(StructField(s"__b$i", BinaryType), StructField(s"__c$i", StringType))
        case "$push" | "$first" | "$last" | "$shift" =>
          Seq(StructField(s"__c$i", StringType))
        case "$firstN" | "$lastN" =>
          Seq(StructField(s"__c$i", StringType))
        case "$top" | "$bottom" | "$topN" | "$bottomN" =>
          o.sortOut.indices.map(j => StructField(s"__t${i}_$j", BinaryType)) :+
            StructField(s"__c$i", StringType)
        case "$locf" =>
          Seq(StructField(s"__c$i", StringType))
        case op if numOps(op) =>
          Seq(StructField(s"__v$i", DoubleType))
        case "$covariancePop" | "$covarianceSamp" =>
          Seq(StructField(s"__v$i", DoubleType), StructField(s"__w$i", DoubleType))
        case _ => Nil
      }})
    def numOrNull(v: JsonNode): Any =
      if (v != null && v.isNumber) v.doubleValue else null
    // `unit` (on the op or its range window) is only legal for a DATE sort
    // axis — Mongo errors on a numeric sortBy with a unit, and the typed
    // engine's sortAxis carries the same require; silently rescaling a
    // numeric axis would diverge between the engines
    val unitRequested = outs.exists(o => o.unit.nonEmpty || o.runit.nonEmpty)
    // the numeric sort axis: numbers as-is, dates as epoch millis
    def axisOf(v: JsonNode): Any =
      if (v == null || v.isNull || isMissing(v)) null
      else if (v.isNumber) {
        if (unitRequested) throw new IllegalArgumentException(
          "window unit is only valid for a date sortBy field")
        v.doubleValue
      }
      else DynExpr.parseInstant(v).map(_.toEpochMilli.toDouble).orNull
    val extracted = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val dctx = DynExpr.DCtx(parse(s), Map.empty)
        val vals = scala.collection.mutable.ArrayBuffer[Any](k, s,
          partOp.map(op => canonical(op.eval(dctx))).getOrElse(""))
        if (needAxis) vals += axisOf(sortOps.head._1.eval(dctx))
        sortOps.foreach { case (op, _) => vals += sortableKey(op.eval(dctx)) }
        outs.foreach { o => o.op match {
          case "$sum" | "$avg" =>
            val v = o.input.get.eval(dctx)
            if (v != null && v.isNumber) { vals += v.doubleValue; vals += v.isIntegralNumber }
            else { vals += null; vals += true } // non-numeric: $sum skips (0), $avg skips
          case "$min" | "$max" | "$addToSet" | "$minN" | "$maxN" =>
            val v = o.input.get.eval(dctx)
            if (v == null || v.isNull || isMissing(v)) { vals += null; vals += null }
            else { vals += sortableKey(v); vals += canonical(v) }
          case "$firstN" | "$lastN" => // null/missing occupy their position
            // as null (Mongo does NOT filter here, unlike $minN/$maxN)
            val v = o.input.get.eval(dctx)
            vals += (if (v == null || v.isNull || isMissing(v)) "null" else canonical(v))
          case "$top" | "$bottom" | "$topN" | "$bottomN" =>
            o.sortOut.foreach { case (sop, _) => vals += sortableKey(sop.eval(dctx)) }
            val v = o.input.get.eval(dctx)
            vals += (if (v == null || isMissing(v)) "null" else canonical(v))
          case "$push" => // MISSING contributes nothing (SQL-null slot is
            // dropped by collect_list); explicit null IS pushed
            val v = o.input.get.eval(dctx)
            vals += (if (v == null || isMissing(v)) null else canonical(v))
          case "$first" | "$last" | "$shift" =>
            val v = o.input.get.eval(dctx)
            vals += (if (v == null || isMissing(v)) "null" else canonical(v))
          case "$locf" => // SQL-null when absent so last(ignoreNulls) skips it
            val v = o.input.get.eval(dctx)
            vals += (if (v == null || v.isNull || isMissing(v)) null else canonical(v))
          case op if numOps(op) =>
            vals += numOrNull(o.input.get.eval(dctx))
          case "$covariancePop" | "$covarianceSamp" =>
            vals += numOrNull(o.input.get.eval(dctx))
            vals += numOrNull(o.input2.get.eval(dctx))
          case _ => ()
        }}
        Row.fromSeq(vals.toSeq)
      }
    }(Encoders.row(schema))

    val ordered: WindowSpec = {
      val base = Window.partitionBy(col("__p"))
      if (sortOps.isEmpty) base
      else base.orderBy(sortOps.zipWithIndex.map { case ((_, asc), i) =>
        if (asc) col(s"__s$i").asc else col(s"__s$i").desc }: _*)
    }
    // REVERSED sort twin: [lo, +unbounded) "shrinking" frames make Spark's
    // window executor re-scan the partition tail per row (O(n²) per
    // partition); the growing (-unbounded, -lo] frame over the reversed
    // order is the same row set and evaluates incrementally
    val orderedRev: WindowSpec = {
      val base = Window.partitionBy(col("__p"))
      if (sortOps.isEmpty) base
      else base.orderBy(sortOps.zipWithIndex.map { case ((_, asc), i) =>
        if (asc) col(s"__s$i").desc else col(s"__s$i").asc }: _*)
    }
    // Mongo time units in milliseconds (range windows, derivative/integral)
    // date axes ride as epoch millis; `unit` rescales them
    def axisFor(unit: Option[String]): Column =
      unit.fold(col("__x"))(u => col("__x") / lit(StageSpec.unitMillis(u).toDouble))
    // second slot marks a shrinking frame rewritten onto the reversed sort
    // order; order-SENSITIVE ops must then swap first<->last / reverse lists
    def framedRev(o: Out): (WindowSpec, Boolean) = (o.frame, o.rangeFrame) match {
      case (Some((lo, hi)), _) if hi == Long.MaxValue && lo != Long.MinValue &&
          sortOps.nonEmpty =>
        (orderedRev.rowsBetween(Window.unboundedPreceding, -lo), true)
      case (Some((lo, hi)), _) =>
        val l = if (lo == Long.MinValue) Window.unboundedPreceding else lo
        val h = if (hi == Long.MaxValue) Window.unboundedFollowing else hi
        (ordered.rowsBetween(l, h), false)
      case (None, Some((lo, hi))) =>
        // value-distance frame on the numeric axis; unit-scaled bounds for
        // date axes (axis stays in millis, the bounds stretch)
        val m = o.runit.fold(1L)(StageSpec.unitMillis)
        def base(asc: Boolean) = Window.partitionBy(col("__p"))
          .orderBy(if (asc) col("__x").asc else col("__x").desc)
        if (hi == Long.MaxValue && lo != Long.MinValue)
          (base(!sortOps.head._2)
            .rangeBetween(Window.unboundedPreceding, -lo * m), true)
        else {
          val l = if (lo == Long.MinValue) Window.unboundedPreceding else lo * m
          val h = if (hi == Long.MaxValue) Window.unboundedFollowing else hi * m
          (base(sortOps.head._2).rangeBetween(l, h), false)
        }
      case (None, None)
          if (StageSpec.rankOps(o.op) || o.op == "$shift") && sortOps.nonEmpty =>
        (ordered, false)
      case (None, None) => // Mongo default window: the WHOLE partition
        // ("unbounded" both sides) even when sortBy is given
        (ordered.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing), false)
    }
    def framed(o: Out): WindowSpec = framedRev(o)._1
    val withCols = outs.zipWithIndex.foldLeft(extracted.toDF()) { case (acc, (o, i)) =>
      def ordStruct = when(col(s"__b$i").isNull, lit(null))
        .otherwise(struct(col(s"__b$i").as("b"), col(s"__c$i").as("c")))
      val c = o.op match {
        case "$sum" => struct(
          coalesce(sum(col(s"__v$i")).over(framed(o)), lit(0d)).as("v"),
          coalesce(bool_and(col(s"__int$i")).over(framed(o)), lit(true)).as("int"))
        case "$avg" => struct(avg(col(s"__v$i")).over(framed(o)).as("v"),
          lit(false).as("int"))
        case "$min"   => min(ordStruct).over(framed(o)).getField("c")
        case "$max"   => max(ordStruct).over(framed(o)).getField("c")
        case "$count" => count(lit(1)).over(framed(o))
        case "$push" =>
          val (f, rev) = framedRev(o)
          val c0 = collect_list(col(s"__c$i")).over(f)
          if (rev) reverse(c0) else c0
        case "$first" =>
          val (f, rev) = framedRev(o)
          (if (rev) last(col(s"__c$i")) else first(col(s"__c$i"))).over(f)
        case "$last" =>
          val (f, rev) = framedRev(o)
          (if (rev) first(col(s"__c$i")) else last(col(s"__c$i"))).over(f)
        case "$locf"  => // no window in Mongo: always backward-cumulative
          last(col(s"__c$i"), ignoreNulls = true).over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "$addToSet" => // dedup + order by the binary BSON sort key
          transform(
            array_sort(collect_set(when(col(s"__b$i").isNotNull,
              struct(col(s"__b$i").as("b"), col(s"__c$i").as("c"))))
              .over(framed(o))),
            e => e.getField("c"))
        // N-family rides graft.functions.BoundedTopK (same reason as the
        // typed engine: collect+re-sort per growing-frame row is
        // O(frame² log frame); the bounded aggregate is O(log k) per row)
        case "$minN" | "$maxN" => // n smallest/largest by BSON order
          val packed = when(col(s"__b$i").isNotNull,
            struct(col(s"__b$i").as("b"), col(s"__c$i").as("c")))
          transform(graft.functions.BoundedTopK.sortedTopK(packed,
            Seq(o.op == "$minN"), o.o.n).over(framed(o)), _.getField("c"))
        case "$firstN" | "$lastN" =>
          val (f, rev) = framedRev(o)
          val packed = struct(col(s"__c$i").as("c"))
          val takeFirst = (o.op == "$firstN") != rev
          val kept = (if (takeFirst)
            graft.functions.BoundedTopK.firstN(packed, o.o.n)
          else graft.functions.BoundedTopK.lastN(packed, o.o.n)).over(f)
          transform(if (rev) reverse(kept) else kept, _.getField("c"))
        case "$top" | "$bottom" | "$topN" | "$bottomN" =>
          // packed (BSON-binary sort keys..., canonical output) kept
          // incrementally with per-key direction
          val packed = struct(
            (o.sortOut.indices.map(j => col(s"__t${i}_$j").as(s"k$j")) :+
              col(s"__c$i").as("c")): _*)
          val dirs = o.sortOut.map(_._2)
          def keep(ds: Seq[Boolean], k: Int) =
            graft.functions.BoundedTopK.sortedTopK(packed, ds, k).over(framed(o))
          o.op match {
            case "$top" => element_at(keep(dirs, 1), 1).getField("c")
            case "$bottom" => element_at(keep(dirs.map(!_), 1), 1).getField("c")
            case "$topN" =>
              transform(keep(dirs, o.o.n), _.getField("c"))
            case _ =>
              transform(reverse(keep(dirs.map(!_), o.o.n)), _.getField("c"))
          }
        case "$stdDevPop"  => stddev_pop(col(s"__v$i")).over(framed(o))
        case "$stdDevSamp" => stddev_samp(col(s"__v$i")).over(framed(o))
        case "$median" =>
          percentile(col(s"__v$i"), lit(0.5)).over(framed(o))
        case "$percentile" =>
          percentile(col(s"__v$i"), array(o.o.ps.map(lit): _*)).over(framed(o))
        case "$covariancePop" =>
          covar_pop(col(s"__v$i"), col(s"__w$i")).over(framed(o))
        case "$covarianceSamp" =>
          covar_samp(col(s"__v$i"), col(s"__w$i")).over(framed(o))
        case "$derivative" =>
          val x = axisFor(o.unit)
          val (f, rev) = framedRev(o)
          // under a reversed frame the traversal flips: sort-order frame
          // end = reversed frame's FIRST row
          def edge(c: Column, atEnd: Boolean) =
            (if (atEnd != rev) last(c) else first(c)).over(f)
          val dx = edge(x, atEnd = true) - edge(x, atEnd = false)
          when(dx =!= 0d,
            (edge(col(s"__v$i"), atEnd = true) -
              edge(col(s"__v$i"), atEnd = false)) / dx)
        case "$integral" =>
          // trapezoid areas between consecutive rows, summed over the frame
          // minus its entering edge (same shape as the typed engine)
          val x = axisFor(o.unit)
          val v = col(s"__v$i")
          val area = (x - lag(x, 1).over(ordered)) *
            (v + lag(v, 1).over(ordered)) / 2d
          if (o.rangeFrame.isDefined) {
            // range frame: in-frame rows are contiguous on the axis, so the
            // in-frame integral is the frame's area sum minus the entering
            // edge (the one area spanning a point outside the frame); under
            // a reversed frame the entering edge is the frame's LAST row
            val (f, rev) = framedRev(o)
            val entering = (if (rev) last(area) else first(area)).over(f)
            coalesce(sum(area).over(f) - coalesce(entering, lit(0d)), lit(0d))
          } else {
          val (lo, hi) = o.frame.getOrElse((Long.MinValue, Long.MaxValue))
          val loShift = if (lo == Long.MinValue) Window.unboundedPreceding else lo + 1
          val h = if (hi == Long.MaxValue) Window.unboundedFollowing else hi
          if (loShift != Window.unboundedPreceding &&
              h != Window.unboundedFollowing && loShift > h) lit(0d)
          else if (h == Window.unboundedFollowing &&
              loShift != Window.unboundedPreceding)
            // shrinking sum frame -> growing frame on the reversed order
            coalesce(sum(area).over(orderedRev.rowsBetween(
              Window.unboundedPreceding, -loShift)), lit(0d))
          else coalesce(sum(area).over(ordered.rowsBetween(loShift, h)), lit(0d))
          }
        case "$linearFill" =>
          val v = col(s"__v$i")
          val x = col("__x")
          val back = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          // forward neighbor scan as a GROWING frame on the reversed order
          // (a [current, +unbounded) frame is O(partition²) in Spark)
          val revBack = orderedRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val prevV = last(v, ignoreNulls = true).over(back)
          val prevX = last(when(v.isNotNull, x), ignoreNulls = true).over(back)
          val nextV = last(v, ignoreNulls = true).over(revBack)
          val nextX = last(when(v.isNotNull, x), ignoreNulls = true).over(revBack)
          when(v.isNotNull, v).otherwise(
            prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX))
        case "$expMovingAvg" =>
          graft.functions.EmaAgg.ema(col(s"__v$i"), o.o.alpha).over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "$rank"           => rank().over(ordered)
        case "$denseRank"      => dense_rank().over(ordered)
        case "$documentNumber" => row_number().over(ordered)
        case "$shift" =>
          // __c is the rendered value: an IN-partition missing/null value is
          // the non-null string "null", so the coalesce fires ONLY when the
          // shifted-to position is outside the partition (SQL null from
          // lead/lag) — exactly Mongo's default rule, same as typed Lead/Lag
          val by = o.o.by
          val s0 = (if (by >= 0) lead(col(s"__c$i"), by)
                    else lag(col(s"__c$i"), -by)).over(ordered)
          o.default.map(d => coalesce(s0, lit(d))).getOrElse(s0)
      }
      acc.withColumn(s"__r$i", c)
    }

    val projected = withCols.select(
      (col("key") +: col("doc") +: outs.indices.map(i => col(s"__r$i"))): _*)
    projected.mapPartitions { rows =>
      rows.map { r =>
        val doc = parse(r.getString(1)).asInstanceOf[ObjectNode]
        outs.zipWithIndex.foreach { case (o, i) =>
          val idx = 2 + i
          val node: JsonNode = o.op match {
            case "$sum" =>
              val st = r.getStruct(idx)
              val v = st.getDouble(0)
              if (st.getBoolean(1) && v == math.rint(v) && math.abs(v) < 9.007199254740992e15)
                nodes.numberNode(v.toLong)
              else nodes.numberNode(v)
            case "$avg" =>
              val st = r.getStruct(idx)
              if (st.isNullAt(0)) nodes.nullNode else nodes.numberNode(st.getDouble(0))
            case "$min" | "$max" | "$first" | "$last" | "$shift" | "$locf" |
                 "$top" | "$bottom" =>
              if (r.isNullAt(idx)) nodes.nullNode else parse(r.getString(idx))
            case "$push" =>
              val a = arr()
              r.getSeq[String](idx).foreach(s => a.add(parse(s)))
              a
            case "$minN" | "$maxN" | "$firstN" | "$lastN" | "$topN" | "$bottomN" =>
              val a = arr()
              if (!r.isNullAt(idx)) r.getSeq[String](idx).foreach(s => a.add(parse(s)))
              a
            case "$addToSet" =>
              val a = arr()
              if (!r.isNullAt(idx)) r.getSeq[String](idx).foreach(s => a.add(parse(s)))
              a
            case "$stdDevPop" | "$stdDevSamp" | "$covariancePop" |
                 "$covarianceSamp" | "$derivative" | "$integral" |
                 "$linearFill" | "$expMovingAvg" | "$median" =>
              if (r.isNullAt(idx)) nodes.nullNode
              else nodes.numberNode(r.getDouble(idx))
            case "$percentile" =>
              if (r.isNullAt(idx)) nodes.nullNode
              else {
                val a = arr()
                r.getSeq[Double](idx).foreach(d => a.add(nodes.numberNode(d)))
                a
              }
            case _ => // $count / rank family: integer-valued
              nodes.numberNode(r.getAs[Number](idx).longValue)
          }
          doc.set[JsonNode](o.o.field, node)
        }
        (if (r.isNullAt(0)) null else r.getString(0), render(doc))
      }
    }(tuple2Enc).toDF("key", "doc")
  }

  /** `$sort` in dynamic mode: each sort key rides as a
    * [[DynJson.sortableKey]] binary column, so the global range exchange
    * orders by the cross-type BSON order without a comparator UDF. */
  private def sortStage(df: DataFrame, keys: List[(String, Boolean)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val ops = keys.map { case (f, asc) => (DynExpr.compile(JString("$" + f)), asc) }
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("doc", StringType)) ++
      ops.indices.map(i => StructField(s"__s$i", BinaryType)))
    normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val dctx = DynExpr.DCtx(parse(s), Map.empty)
        Row.fromSeq(Seq(k, s) ++ ops.map { case (op, _) => sortableKey(op.eval(dctx)) })
      }
    }(Encoders.row(schema))
      .orderBy(ops.zipWithIndex.map { case ((_, asc), i) =>
        if (asc) col(s"__s$i").asc else col(s"__s$i").desc }: _*)
      .select("key", "doc")
  }

  /** `$densify` in dynamic mode: same bounds-aggregate + sequence + anti
    * join shape as the typed engine; stub docs are rebuilt from the
    * partition fields' canonical values. Integer steps; with `range.unit`
    * the field is a date (epoch millis or ISO-8601 string) carried through
    * the join as an epoch-micros slot, and the grid steps by a calendar
    * interval in UTC (Spark `sequence` over timestamps). */
  private def densifyStage(df: DataFrame, d: Densify): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val Densify(fieldName, partFields, step, unit, bounds, explicit) = d
    def micros(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    val partOps = partFields.map(f => DynExpr.compile(JString("$" + f)))
    val schema = StructType(Seq(
      StructField("key", StringType), StructField("doc", StringType),
      StructField("__p", StringType), StructField("__pj", StringType),
      StructField("__slot", LongType)))
    val extracted = normalize(df).as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val dctx = DynExpr.DCtx(parse(s), Map.empty)
        val vals = partOps.map(_.eval(dctx))
        val pj = { val a = arr(); vals.foreach(v => a.add(missingToNull(v))); render(a) }
        val fv = DynExpr.compile(JString("$" + fieldName)).eval(dctx)
        val slot: Any =
          if (unit.isDefined)
            DynExpr.parseInstant(fv).map(i => java.lang.Long.valueOf(micros(i))).orNull
          else if (fv != null && fv.isIntegralNumber) fv.longValue else null
        Row(k, s, vals.map(canonical).mkString(" "), pj, slot)
      }
    }(Encoders.row(schema))
    def partKeys = extracted.select("__p", "__pj").distinct()
    val (bounded, exclusiveHi) = (bounds, explicit) match {
      case ("partition", _) =>
        (extracted.groupBy("__p", "__pj")
          .agg(min(col("__slot")).as("__lo"), max(col("__slot")).as("__hi")), false)
      case (_, Some((lo, hi))) => // [lo, hi): ints, or epoch micros for dates
        (partKeys.withColumn("__lo", lit(lo)).withColumn("__hi", lit(hi)), true)
      case _ => // full
        val g = extracted.agg(min(col("__slot")).as("__lo"), max(col("__slot")).as("__hi"))
        (partKeys.crossJoin(broadcast(g)), false)
    }
    // exclusive hi: ints step on a unit grid so hi-1 is exact; Mongo dates
    // are millisecond-precision so hi-1ms (1000 micros) is the strict bound
    val hiCol =
      if (!exclusiveHi) col("__hi")
      else col("__hi") - (if (unit.isDefined) 1000L else 1L)
    val grid0 = bounded.filter(col("__lo").isNotNull && col("__lo") <= hiCol)
    val grid = unit match {
      case None => grid0.select(col("__p"), col("__pj"),
        explode(sequence(col("__lo"), hiCol, lit(step))).as("__slot"))
      case Some(u) => grid0.select(col("__p"), col("__pj"),
        explode(sequence(timestamp_micros(col("__lo")), timestamp_micros(hiCol),
          graft.Stages.densifyInterval(u, step))).as("__ts"))
        .select(col("__p"), col("__pj"), unix_micros(col("__ts")).as("__slot"))
    }
    val missing = grid.join(
      extracted.select("__p", "__slot").distinct(), Seq("__p", "__slot"), "left_anti")
    val stubs = missing.select("__pj", "__slot")
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { it =>
        it.map { case (pj, slot) =>
          val out = obj()
          val vals = parse(pj).asInstanceOf[ArrayNode]
          partFields.zipWithIndex.foreach { case (f, i) => out.set[JsonNode](f, vals.get(i)) }
          out.set[JsonNode](fieldName,
            if (unit.isDefined) nodes.textNode(java.time.Instant.ofEpochSecond(
              Math.floorDiv(slot, 1000000L), Math.floorMod(slot, 1000000L) * 1000L).toString)
            else nodes.numberNode(slot))
          (null: String, render(out))
        }
      }(tuple2Enc).toDF("key", "doc")
    normalize(df).unionByName(stubs)
  }

  /** `$fill` in dynamic mode: `method: locf`/`method: linear` fields
    * rewrite to ONE `$setWindowFields` pass (`$locf` / `$linearFill` —
    * the typed engine's rewrite exactly); `value: <expr>` fields are a
    * fused per-document `$ifNull` (no shuffle). */
  private def fillStage(df: DataFrame, f: Fill): DataFrame = {
    val afterWindowed =
      if (f.locf.isEmpty && f.linear.isEmpty) df
      else setWindowFields(df, SetWindowFields(f.partitionBy, f.sortBy,
        f.locf.map(x => WinOut(x, "$locf", JString("$" + x), Frame())) ++
          f.linear.map(x => WinOut(x, "$linearFill", JString("$" + x), Frame()))))
    if (f.values.isEmpty) afterWindowed
    else applyFused(afterWindowed, List(addFields(JObject(f.values.map { case (x, v) =>
      x -> JObject(List("$ifNull" -> JArray(List(JString("$" + x), v))))
    }))))
  }

  /** $deduplicate on an expression (canonical Mongo equality): first doc per
    * key wins within a partition; cross-partition winner is arbitrary, like
    * the reference's cache race (Deduplicate.java). */
  private def deduplicate(df: DataFrame, d: Deduplicate): DataFrame = {
    val op = DynExpr.compile(d.expression)
    val tuple3Enc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    df.as(tuple2Enc).mapPartitions { it =>
      it.map { case (k, s) =>
        val doc = parse(s)
        (canonical(op.eval(DynExpr.DCtx(doc, Map.empty))), k, s)
      }
    }(tuple3Enc).toDF("__dkey", "key", "doc")
      .dropDuplicates("__dkey")
      .select(col("key"), col("doc"))
  }
}
