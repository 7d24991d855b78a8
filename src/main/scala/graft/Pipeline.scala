package graft

import graft.StageSpec._
import graft.mongo.{ExprCtx, MongoExpr, MongoMatch}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Compiles a MongoDB aggregation pipeline (JSON array of `{"$stage": spec}`
  * objects — the surface of
  * /root/reference/src/main/java/net/pincette/mongo/streams/Pipeline.java:231-260)
  * into a `DataFrame => DataFrame` chain of idiomatic Spark transforms. Each
  * stage emits declarative Catalyst plans (filter/select/groupBy/join), so
  * predicate pushdown, column pruning, and whole-stage codegen all apply.
  *
  * Like the reference (`Pipeline.java:265-266`) unknown stages are ignored
  * unless supplied via the `extensions` registry (built-ins win,
  * `Pipeline.java:275-276`). Desugaring rewrites mirror the reference:
  * `$set`→`$addFields`, `$unset`→drop, `$replaceRoot`→`$replaceWith`,
  * `$bucket`→`$group`+`$switch`, `$count`→`$group`.
  *
  * @param catalog    resolves `$lookup.from` collection names to DataFrames.
  * @param extensions user stage extensions (name → (df, spec) => df).
  */
final class Pipeline(
    catalog: String => DataFrame = n =>
      throw new IllegalArgumentException(s"no catalog for collection $n"),
    extensions: Map[String, (DataFrame, JValue) => DataFrame] = Map.empty,
    store: graft.sources.DocumentStore = Pipeline.noStore,
    producer: DataFrame => Unit = _ => (),
    /** Resolves `$lookup`'s remote `(connectionString, database, from)`
      * form (Lookup.java:74-78) to a DataFrame — a SECOND catalog keyed by
      * the connection, so one pipeline can join across databases. `None`
      * falls back to a connector-native [[graft.sources.MongoStore]] per
      * (uri, database). */
    remoteCatalog: Option[(String, String, String) => DataFrame] = None,
    trace: Boolean = false) {

  def run(df: DataFrame, pipelineJson: String): DataFrame =
    run(df, StageSpec.parse(pipelineJson))

  /** Per-stage profiling (Pipeline.java:289-292,332-339: wall-time logs when
    * `context.trace` or a stage-level `_trace: true`): the Spark-idiomatic
    * equivalent is an `observe` metric per traced stage — row counts surface
    * through QueryExecutionListener / StreamingQueryListener without forcing
    * extra actions. */
  def run(df: DataFrame, pipeline: JValue): DataFrame =
    run(df, StageSpec.parse(pipeline))

  def run(df: DataFrame, stages: List[Stage]): DataFrame =
    stages.foldLeft(df) { (d, st) =>
      val out = applyStage(d, st)
      if (trace || st.trace)
        out.observe(s"stage${st.index}_${st.name.stripPrefix("$")}",
          count(lit(1)).as("rows"))
      else out
    }

  def applyStage(df: DataFrame, st: Stage): DataFrame = {
    implicit val ctx: ExprCtx = Stages.ctxFor(df)
    val spec = st.spec
    st.args match {
      case u: Unwind => Stages.unwind(df, u)
      case g: Group => // _continuous: exact per-message emission (streaming)
        if (g.continuous) graft.streaming.ContinuousGroup(df, g)
        else Stages.group(df, g)
      case Count(f) => Stages.countStage(df, f)
      case l: Lookup => Stages.lookup(df, l, catalog,
        remoteCatalog.getOrElse((uri, dbn, coll) =>
          new graft.sources.MongoStore(df.sparkSession, uri, dbn).read(coll)))
      case d: Deduplicate => Stages.deduplicate(df, d)
      case m: StageSpec.Merge => SinkStages.merge(df, m, store)
      case d: Delete      => SinkStages.delete(df, d, store)
      case s: Send        => SinkStages.send(df, s, producer)
      case d: Delay       => SinkStages.delay(df, d, producer, store)
      case p: Probe       => SinkStages.probe(df, p, producer)
      case p: Per         => SinkStages.per(df, p)
      case w: SetWindowFields => Stages.setWindowFields(df, w)
      case f: Fill        => Stages.fill(df, f)
      case d: Densify     => Stages.densify(df, d)
      // ---- batch-only MQL stages the reference excludes by design (its
      // streams are unbounded, SURVEY §2.8); legitimate on bounded inputs --
      case Sort(keys)     => Stages.sortStage(df, keys)
      case Limit(n)       => df.limit(n)
      case Skip(n)        => df.offset(n)
      case Sample(n) => // DEVIATION: deterministic hash order, not random —
        // reproducible runs and oracle checks beat true randomness here.
        // Priority = xxhash64 of the canonical {"_id": <id>} rendering so
        // BOTH engines pick the same subset (the dynamic engine hashes the
        // same string); corpora without _id hash all columns (engine-local).
        val priority =
          if (df.columns.contains("_id")) {
            // PRECONDITION (cross-engine parity): the trick only holds
            // for a SCALAR string/integer _id — to_json renders
            // timestamps/structs engine-specifically, so hashes would
            // silently diverge. Fail loudly instead.
            val t = df.schema("_id").dataType
            require(Seq[DataType](StringType, IntegerType, LongType,
              ShortType, ByteType).contains(t),
              s"$$sample cross-engine determinism needs a scalar " +
                s"string/integer _id, got $t — project one first " +
                "($toString/$toLong), or drop _id to hash the full row")
            xxhash64(to_json(struct(col("_id").as("_id"))))
          } else xxhash64(df.columns.map(col).toIndexedSeq: _*)
        // full-row tiebreak: duplicate _ids still order deterministically
        // WITHIN this engine (cross-engine parity needs unique _ids)
        df.orderBy(priority, xxhash64(df.columns.map(col).toIndexedSeq: _*))
          .limit(n)
      case Score(e, norm) =>
        // Mongo 8.2: custom scoring — evaluates `score` per document into
        // the hidden __score column ({"$meta": "score"} reads it), with
        // optional per-stream normalization (see Stages.normalizeScore).
        Stages.normalizeScore(df.withColumn("__score",
          MongoExpr.compile(e).cast(DoubleType)), "__score", norm)
      case f: Fusion if st.name == "$rankFusion" => rankFusion(df, f)
      case f: Fusion => scoreFusion(df, f)
      case Raw => st.name match {
      case "$match"       => df.filter(MongoMatch.compile(spec))
      case "$project"     => Stages.project(df, spec)
      case "$addFields" | "$set" => Stages.addFields(df, spec)
      case "$unset"       => Stages.unset(df, spec)
      case "$replaceWith" => Stages.replaceWith(df, spec)
      case "$replaceRoot" => Stages.replaceWith(df, spec \ "newRoot")
      case "$setKey"      =>
        // Scalars stringify via the SQL cast; NON-scalars (object/array/map
        // keys) render as compact JSON to agree with the dynamic engine's
        // Jackson render — Spark's struct cast ("{1, x}") is neither the
        // reference's Util.java:86-88 format nor parseable (the canonical
        // JSON form is the engines' documented shared convention).
        val keyExpr = MongoExpr.compile(spec)
        val keyCol = df.select(keyExpr.as("__k")).schema.head.dataType match {
          case _: StructType | _: ArrayType | _: MapType => to_json(keyExpr)
          case _ => keyExpr.cast(StringType)
        }
        df.withColumn("key", keyCol)
      case "$redact"      => Stages.redact(df, spec)
      case "$http"        => graft.operators.HttpStage(df, spec)
      case "$jslt"        => graft.operators.ScriptStages.jslt(df, spec)
      case "$jq"          => graft.operators.ScriptStages.jq(df, spec)
      case "$sortByCount" =>
        df.groupBy(MongoExpr.compile(spec).as("_id"))
          .agg(count(lit(1)).as("count"))
          .orderBy(col("count").desc, col("_id")) // _id tiebreak: determinism
      case "$documents" =>
        // MQL db.aggregate() entry stage: literal documents REPLACE the
        // input (Mongo requires it first; prior output is discarded here)
        Stages.documents(df.sparkSession, spec)
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
          case (Some(c), JNothing | JNull) => catalog(c)
          case (Some(c), p)                => run(catalog(c), p)
          case (None, p @ JArray(JObject(("$documents", _) :: _) :: _)) =>
            run(df.limit(0), p) // $documents ignores its input
          case (None, _) => throw new IllegalArgumentException(
            "$unionWith without coll needs a pipeline starting with $documents")
        }
        df.unionByName(other, allowMissingColumns = true)
      case "$graphLookup"  => Stages.graphLookup(df, spec, catalog)
      case "$bucketAuto"   => Stages.bucketAuto(df, spec)
      case "$vectorSearch" => Stages.vectorSearch(df, spec)
      case "$search"       => Stages.search(df, spec)
      case "$geoNear"      => Stages.geoNear(df, spec)
      case "$facet" => // each sub-pipeline folds to ONE array column; the
        // single-row facet frames cross-join into one document
        val JObject(facets) = (spec: @unchecked)
        val framed = facets.map { case (fname, sub) =>
          run(df, sub).select(array_agg(struct(col("*"))).as(fname))
        }
        framed.reduce((a, b) => a.crossJoin(b))
      case "$throttle"    => Stages.throttle(df, spec)
      case "$trace" | "$backTrace" => df // observability no-ops in batch
      case ext if extensions.contains(ext) => extensions(ext)(df, spec)
      case _ => df // unrecognized stages are silently ignored (Pipeline.java:265)
      }
    }
  }

  /** Mongo 8.1 hybrid search: each input pipeline is a SELECTION pipeline
    * over the same stream; its bounded output is ranked and the ranked lists
    * fuse by reciprocal rank (constant 60, like Mongo) on _id. The fused
    * score lands in the hidden __score column, surfaced via
    * {"$meta": "score"}. */
  private def rankFusion(df: DataFrame, f: Fusion): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(df.columns.contains("_id"), "$rankFusion fuses on _id")
    val docCols = df.columns.toSeq
    val contribs = f.inputs.map { case (pname, stages) =>
      val out = run(df, stages)
      // rank order: the trailing $sort's keys, else the vector score
      val sortCols: Seq[Column] = stages.reverse.collectFirst {
        case Stage(_, _, _, _, Sort(keys)) => keys.map { case (k, asc) =>
          if (asc) Stages.sortKeyCol(out, k).asc else Stages.sortKeyCol(out, k).desc }
      }.getOrElse {
        if (stages.exists(_.name == "$vectorSearch")) Seq(col("__vsScore").desc)
        else Seq(col("__searchScore").desc)
      }
      val rank = row_number().over(
        Window.orderBy(sortCols :+ col("_id").asc: _*))
      out.select(struct(docCols.map(col): _*).as("__doc"), rank.as("__rank"))
        .select(col("__doc"),
          (lit(f.weights.getOrElse(pname, 1d)) / (lit(60) + col("__rank"))).as("__rrf"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(col("__doc").getField("_id").as("__fid"))
      .agg(first(col("__doc")).as("__doc"), sum(col("__rrf")).as("__score"))
      .select(docCols.map(c => col("__doc").getField(c).as(c)) :+
        col("__score"): _*)
      .orderBy(col("__score").desc, col("_id"))
  }

  /** Mongo 8.1 hybrid search, score flavor: each input pipeline must PRODUCE
    * a score ($score / $vectorSearch / $search); scores are normalized per
    * pipeline (input.normalization), weighted, and combined as
    * sum/nPipelines — a document absent from a pipeline contributes 0 from
    * it (same absent rule as $rankFusion's RRF). No rank window is involved,
    * so unlike $rankFusion the inputs need no boundedness: normalization
    * stats are single-row broadcast aggregates. */
  private def scoreFusion(df: DataFrame, f: Fusion): DataFrame = {
    require(df.columns.contains("_id"), "$scoreFusion fuses on _id")
    val docCols = df.columns.toSeq
    val contribs = f.inputs.map { case (pname, stages) =>
      val out = run(df, stages)
      val scoreCol = Seq("__score", "__vsScore", "__searchScore")
        .find(out.columns.contains).map(col).get
      val normalized = Stages.normalizeScore(
        out.withColumn("__s", scoreCol.cast(DoubleType)), "__s", f.normalization)
      normalized.select(struct(docCols.map(col).toIndexedSeq: _*).as("__doc"),
        (lit(f.weights.getOrElse(pname, 1d)) * col("__s")).as("__ws"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(col("__doc").getField("_id").as("__fid"))
      .agg(first(col("__doc")).as("__doc"),
        (sum(col("__ws")) / lit(f.inputs.size.toDouble)).as("__score"))
      .select(docCols.map(c => col("__doc").getField(c).as(c)) :+
        col("__score"): _*)
      .orderBy(col("__score").desc, col("_id"))
  }
}

object Pipeline {
  private[graft] def noStore: graft.sources.DocumentStore =
    new graft.sources.DocumentStore {
      def read(name: String): DataFrame =
        throw new IllegalStateException("no DocumentStore configured")
      def overwrite(name: String, df: DataFrame): Unit =
        throw new IllegalStateException("no DocumentStore configured")
    }
}

private[graft] object Stages {
  import MongoExpr.{compile => cexpr}

  /** Resolve a dotted path against a schema; None if any step is missing or
    * traverses a non-struct. */
  def resolveType(st: StructType, path: String): Option[DataType] = {
    def walk(t: DataType, parts: List[String]): Option[DataType] = (t, parts) match {
      case (x, Nil)                 => Some(x)
      case (s: StructType, p :: ps) => s.find(_.name == p).flatMap(f => walk(f.dataType, ps))
      case _                        => None
    }
    walk(st, path.split('.').toList)
  }

  /** ROOT = the whole current document; $$KEEP/$$PRUNE/$$DESCEND markers for
    * `$redact` (Redact.java:34-39). Field paths resolve schema-safely: a path
    * that doesn't exist in the document yields null (Mongo missing-field
    * semantics) instead of an AnalysisException. */
  def ctxFor(df: DataFrame): ExprCtx = {
    val docCols = df.columns.filter(_ != "key")
    val docSchema = StructType(df.schema.filter(_.name != "key"))
    ExprCtx(
      field = p =>
        if (resolveType(docSchema, p).isDefined) MongoExpr.defaultFieldRef(p)
        else MongoExpr.MissingRef, // the recognizable missing marker
      vars = Map(
        "ROOT" -> struct(docCols.map(col).toIndexedSeq: _*),
        "KEEP" -> lit("__KEEP__"), "PRUNE" -> lit("__PRUNE__"),
        "DESCEND" -> lit("__DESCEND__")),
      typeOf = p => resolveType(docSchema, p))
  }

  /** Score normalization shared by `$score` and `$scoreFusion`: none /
    * sigmoid / minMaxScaler. minMaxScaler's stats are a single-row aggregate
    * cross-joined back (broadcast by construction), never a window —
    * scale-safe on an unbounded stream. */
  def normalizeScore(df: DataFrame, c: String, norm: String): DataFrame = norm match {
    case "none" => df
    case "sigmoid" => df.withColumn(c, lit(1.0) / (lit(1.0) + exp(-col(c))))
    case "minMaxScaler" =>
      val stats = df.agg(min(col(c)).as("__mn"), max(col(c)).as("__mx"))
      df.crossJoin(broadcast(stats)).withColumn(c,
        when(col("__mx") === col("__mn"), lit(1.0))
          .otherwise((col(c) - col("__mn")) / (col("__mx") - col("__mn"))))
        .drop("__mn", "__mx")
    case other => throw new IllegalArgumentException(s"score normalization: $other")
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other      => throw new IllegalArgumentException(s"expected string: $other")
  }

  // ---- $project -----------------------------------------------------------

  private def isExclusion(v: JValue): Boolean = v match {
    case JBool(false)      => true
    case JInt(i) if i == 0 => true
    case JDouble(0.0)      => true
    case _                 => false
  }

  private def isInclusion(v: JValue): Boolean = v match {
    case JBool(true)            => true
    case JInt(i) if i != 0      => true
    case JDouble(d) if d != 0.0 => true
    case _                      => false
  }

  /** Pure include/exclude nesting (no `$` operators anywhere below). */
  private def pureNest(v: JValue): Boolean = v match {
    case o: JObject =>
      o.obj.nonEmpty && !o.obj.exists(_._1.startsWith("$")) && o.obj.forall(f => pureNest(f._2))
    case x => isInclusion(x) || isExclusion(x)
  }

  /** `{a:{b:1}}` ≡ `{"a.b":1}` (Project.java:55-60). Computed expressions
    * (anything with `$`) are left intact. */
  private def flatten(fields: List[(String, JValue)]): List[(String, JValue)] =
    fields.flatMap {
      case (k, o: JObject) if pureNest(o) =>
        flatten(o.obj).map { case (k2, v2) => (s"$k.$k2", v2) }
      case kv => List(kv)
    }

  def project(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
    val JObject(rawFields) = (spec: @unchecked)
    val entries = flatten(rawFields)
    val excludes = entries.collect { case (k, v) if isExclusion(v) => k }
    val includes = entries.collect { case (k, v) if isInclusion(v) => k }
    val computed = entries.collect {
      case (k, v) if !isInclusion(v) && !isExclusion(v) => (k, v)
    }
    val excludesId = excludes.contains("_id")
    require(excludes.forall(_ == "_id") || (includes.isEmpty && computed.isEmpty),
      "$project cannot mix include and exclude") // Project.java:127,135-138

    if (includes.isEmpty && computed.isEmpty) unsetPaths(df, excludes)
    else {
      val keep = scala.collection.mutable.LinkedHashMap[String, Column]()
      if (df.columns.contains("_id") && !excludesId && !includes.contains("_id") &&
        !computed.exists(_._1 == "_id")) keep("_id") = col("_id")
      // including a field the document does not have is legal in Mongo and
      // yields nothing (found by the differential fuzzer: {"f0": 2} threw
      // UNRESOLVED_COLUMN here while the dynamic engine emitted no field)
      val topIncludes = includes.filter(!_.contains('.'))
        .filter(df.columns.contains)
      val nestedIncludes = includes.filter(_.contains('.'))
        .filter(p => df.columns.contains(p.split('.').head))
        .groupBy(_.split('.').head)
      topIncludes.foreach(f => keep(f) = col(f))
      nestedIncludes.foreach { case (top, paths) =>
        keep(top) = rebuildStruct(col(top), paths.map(_.split('.').toList.tail))
      }
      computed.foreach {
        case (_, JString("$$REMOVE"))   => // dropped (Project.java:46-47)
        case (k, v) if !k.contains('.') => keep(k) = cexpr(v)
        case (k, v) => // dotted computed target -> nested struct
          val parts = k.split('.').toList
          val existing = keep.get(parts.head)
          keep(parts.head) = existing match {
            case Some(c) => c.withField(parts.tail.mkString("."), cexpr(v))
            case None    => freshStruct(parts.tail, cexpr(v))
          }
      }
      val cols = keep.toList.map { case (n, c) => c.as(n) }
      if (df.columns.contains("key")) df.select((col("key") :: cols): _*)
      else df.select(cols: _*)
    }
  }

  /** `$project` applied to a DOCUMENT-VALUED column (used by `$lookup`
    * sub-pipelines): same include/exclude/computed rules, field paths resolve
    * within the struct. */
  def projectDoc(base: Column, st: StructType, spec: JValue)
      (implicit ctx: ExprCtx): Column = {
    val JObject(rawFields) = (spec: @unchecked)
    val entries = flatten(rawFields)
    val excludes = entries.collect { case (k, v) if isExclusion(v) => k }
    val includes = entries.collect { case (k, v) if isInclusion(v) => k }
    val computed = entries.collect {
      case (k, v) if !isInclusion(v) && !isExclusion(v) => (k, v)
    }
    require(excludes.forall(_ == "_id") || (includes.isEmpty && computed.isEmpty),
      "$project cannot mix include and exclude")
    val inCtx = ctx.copy(field = p => p.split('.').foldLeft(base)(_ getField _))
    if (includes.isEmpty && computed.isEmpty) base.dropFields(excludes: _*)
    else {
      val keep = scala.collection.mutable.LinkedHashMap[String, Column]()
      if (st.fieldNames.contains("_id") && !excludes.contains("_id") &&
        !includes.contains("_id") && !computed.exists(_._1 == "_id"))
        keep("_id") = base.getField("_id")
      includes.filter(f => !f.contains('.') && st.fieldNames.contains(f))
        .foreach(f => keep(f) = base.getField(f))
      includes.filter(p => p.contains('.') &&
          st.fieldNames.contains(p.split('.').head))
        .groupBy(_.split('.').head).foreach {
          case (top, paths) =>
            keep(top) = rebuildStruct(base.getField(top),
              paths.map(_.split('.').toList.tail))
        }
      computed.foreach {
        case (_, JString("$$REMOVE")) =>
        case (k, v)                   => keep(k) = cexpr(v)(inCtx)
      }
      struct(keep.toList.map { case (n, c) => c.as(n) }: _*)
    }
  }

  /** Rebuild a struct keeping only the given sub-paths. */
  private def rebuildStruct(base: Column, paths: List[List[String]]): Column = {
    val byHead = paths.groupBy(_.head)
    struct(byHead.toList.sortBy(_._1).map { case (h, ps) =>
      val subPaths = ps.map(_.tail).filter(_.nonEmpty)
      if (subPaths.isEmpty) base.getField(h).as(h)
      else rebuildStruct(base.getField(h), subPaths).as(h)
    }: _*)
  }

  private def freshStruct(path: List[String], v: Column): Column = path match {
    case Nil          => v
    case head :: tail => struct(freshStruct(tail, v).as(head))
  }

  // ---- $addFields / $set --------------------------------------------------

  /** Deep-merge one expression per (possibly dotted) target path
    * (AddFields.java:32-90). Non-struct values at intermediate paths are
    * overwritten, matching the reference's merge core (37-58). */
  def addFields(df: DataFrame, spec: JValue): DataFrame = {
    val JObject(fields) = (spec: @unchecked)
    fields.foldLeft(df) { case (d, (path, expr)) =>
      val c = cexpr(expr)(ctxFor(d))
      val parts = path.split('.').toList
      if (parts.length == 1) d.withColumn(path, c)
      else {
        val top = parts.head
        val merged = d.schema.find(_.name == top).map(_.dataType) match {
          case Some(st: StructType) => mergeAt(st, col(top), parts.tail, c)
          case _                    => freshStruct(parts.tail, c)
        }
        d.withColumn(top, merged)
      }
    }
  }

  /** Schema-aware deep-set: descend through existing struct levels, create
    * missing ones, overwrite non-struct intermediates (AddFields.java:37-58). */
  private def mergeAt(st: StructType, base: Column, path: List[String], v: Column): Column =
    path match {
      case Nil         => v
      case last :: Nil => base.withField(last, v)
      case head :: tail =>
        st.find(_.name == head).map(_.dataType) match {
          case Some(sub: StructType) =>
            base.withField(head, mergeAt(sub, base.getField(head), tail, v))
          case _ => base.withField(head, freshStruct(tail, v))
        }
    }

  // ---- $unset -------------------------------------------------------------

  def unset(df: DataFrame, spec: JValue): DataFrame = {
    val paths = spec match {
      case JString(s) => List(s)
      case JArray(xs) => xs.map(str)
      case other      => throw new IllegalArgumentException(s"$$unset: $other")
    }
    unsetPaths(df, paths)
  }

  private def unsetPaths(df: DataFrame, paths: List[String]): DataFrame = {
    val (top, nested) = paths.partition(!_.contains('.'))
    val afterTop = if (top.nonEmpty) df.drop(top: _*) else df
    nested.groupBy(_.split('.').head).foldLeft(afterTop) {
      case (d, (topField, ps)) if d.columns.contains(topField) =>
        d.withColumn(topField,
          col(topField).dropFields(ps.map(_.split('.').tail.mkString(".")): _*))
      case (d, _) => d
    }
  }

  // ---- $replaceWith / $replaceRoot ---------------------------------------

  /** The expression result becomes the new document; output key = new `_id`
    * if present else old key (ReplaceWith.java:25-38). */
  def replaceWith(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
    val doc = cexpr(spec)
    val hasKey = df.columns.contains("key")
    val tmp = if (hasKey) df.select(col("key"), doc.as("__doc"))
              else df.select(doc.as("__doc"))
    val fields = tmp.schema("__doc").dataType match {
      case s: StructType => s.fieldNames.toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"$$replaceWith result must be a document in the typed engine, got " +
          s"$other. The reference passes non-object results through unchanged " +
          "(ReplaceWith.java:33-36) — a schema divergence a typed plan cannot " +
          "express; run this pipeline in the dynamic (schemaless) mode " +
          "(graft.dynamic.DynPipeline), which implements the passthrough.")
    }
    val docCols = fields.map(f => col("__doc").getField(f).as(f))
    if (hasKey) {
      val newKey =
        if (fields.contains("_id"))
          coalesce(col("__doc").getField("_id").cast(StringType), col("key"))
        else col("key")
      tmp.select((newKey.as("key") +: docCols): _*)
    } else tmp.select(docCols: _*)
  }

  // ---- $unwind ------------------------------------------------------------

  /** `posexplode`(-`_outer` for preserveNullAndEmptyArrays) + put the element
    * back at the path (Unwind.java:43-140). */
  def unwind(df: DataFrame, u: Unwind): DataFrame = {
    val Unwind(path, includeIndex, preserve, newIds) = u
    val parts = path.split('.').toList
    // $unwind of a path the schema does not have (e.g. after $unset):
    // Mongo emits nothing per doc — preserve keeps the docs unchanged,
    // default drops them all (found by the differential fuzzer; posexplode
    // of the absent column was an analysis error)
    if (resolveType(StructType(df.schema.filter(_.name != "key")), path).isEmpty)
      return if (preserve) includeIndex.fold(df)(f =>
        df.withColumn(f, lit(null).cast(LongType)))
      else df.filter(lit(false))
    val arrCol = parts.tail.foldLeft(col(parts.head))(_ getField _)
    val gen = if (preserve) posexplode_outer(arrCol) else posexplode(arrCol)
    val withElem = df.select(col("*"), gen.as(Seq("__pos", "__elem")))
    // put the element back at the (possibly nested) path (Unwind.java:68-83)
    val exploded = (if (parts.length == 1) withElem.withColumn(path, col("__elem"))
      else {
        val top = parts.head
        val topType = df.schema(top).dataType.asInstanceOf[StructType]
        withElem.withColumn(top,
          mergeAt(topType, col(top), parts.tail, col("__elem")))
      }).drop("__elem")
    val withIdx = includeIndex match {
      case Some(idxField) => exploded.withColumn(idxField, col("__pos").cast(LongType))
      case None           => exploded
    }
    val out = withIdx.drop("__pos")
    if (newIds) {
      val withId = out.withColumn("_id", expr("uuid()"))
      if (out.columns.contains("key")) withId.withColumn("key", col("_id")) else withId
    } else out
  }

  // ---- $group (+ $bucket/$count sugar) ------------------------------------

  private def isLiteralId(v: JValue): Boolean = v match {
    case JNull | JBool(_) | JInt(_) | JLong(_) | JDouble(_) | JDecimal(_) => true
    case JString(s) => !s.startsWith("$")
    case _          => false
  }

  /** `$mergeObjects` accumulator over map-typed docs: fold `map_concat`
    * (requires spark.sql.mapKeyDedupPolicy=LAST_WIN → later wins, matching
    * Group.java:291-304). Null/non-map handling: nulls skipped by
    * collect_list, empty input → null. */
  private def mergeObjectsAgg(c: Column): Column = {
    val l = collect_list(c)
    when(size(l) === 0, lit(null))
      .otherwise(aggregate(slice(l, lit(2), greatest(size(l) - 1, lit(0))),
        element_at(l, 1), (acc, x) => map_concat(acc, x)))
  }

  def accumulator(a: Acc)(implicit ctx: ExprCtx): Column = {
    def in = cexpr(a.input)
    a.op match {
    case "$sum"   => // all-null group -> 0, like Mongo (not SQL null)
      coalesce(sum(in), lit(0))
    case "$avg"   => avg(in)
    case "$count" => count(lit(1)) // Group.java:209-217
    case "$max"      => max(in)
    case "$min"      => min(in)
    case "$push"     => collect_list(in)
    case "$addToSet" => array_sort(collect_set(in)) // sorted (Group.java:130-149)
    case "$last"     => last(in)
    case "$stdDevPop" => stddev_pop(in) // the documented σ, not the
      // reference's emit-the-count quirk (Group.java:451-453) — see SURVEY §2.4
    case "$mergeObjects" => mergeObjectsAgg(in)
    // --- beyond the reference's 10: the modern-MQL accumulators -------------
    case "$first" => first(in)
    case "$stdDevSamp" => stddev_samp(in)
    // {input, method} or bare expr; exact linear interp. $percentile:
    // {input, p: [..]} -> array<double> in p order
    case "$median" => percentile(in, lit(0.5))
    case "$percentile" => percentile(in, array(a.ps.map(lit): _*))
    // the group-side N-family rides graft.functions.BoundedTopK: the
    // collect_list formulation buffered the WHOLE group per key (unbounded
    // memory on a billion-row group); the bounded aggregate keeps at most
    // n rows per partial AND prunes map-side before the shuffle
    case "$maxN" | "$minN" => // n largest/smallest, Mongo's output ordering
      val input = in
      val packed = when(input.isNotNull, // nulls skipped, Mongo's rule
        struct(input.as("__k0"), input.as("__out")))
      transform(graft.functions.BoundedTopK.sortedTopK(packed,
        Seq(a.op == "$minN"), a.n), _.getField("__out"))
    case "$firstN" | "$lastN" => // first/last n in encounter order (same
      // no-total-order caveat as $first/$last without a preceding $sort).
      // Mongo does NOT filter nulls here (unlike $minN/$maxN) — missing and
      // null inputs occupy their position as null
      val packed = struct(in.as("__out"))
      transform(if (a.op == "$firstN")
        graft.functions.BoundedTopK.firstN(packed, a.n)
      else graft.functions.BoundedTopK.lastN(packed, a.n), _.getField("__out"))
    case _ => // $top $bottom $topN $bottomN: {output, sortBy, n?} — the
      // group's best docs under the null-safe Mongo comparator (nulls first
      // ascending); $bottom* = flipped directions + reversed readout
      topFamily(a.op, a.sortBy, in, a.n, (p, ds, k) =>
        graft.functions.BoundedTopK.sortedTopK(p, ds, k))
    }
  }

  /** `$top`/`$bottom`/`$topN`/`$bottomN` over `keep` (a group aggregate or
    * its windowed form): pack (sort keys…, output), keep the best `n`. */
  def topFamily(op: String, sortBy: List[(String, Boolean)], output: Column,
      n: Int, keep0: (Column, Seq[Boolean], Int) => Column)
      (implicit ctx: ExprCtx): Column = {
    val dirs = sortBy.map(_._2)
    val packed = struct((sortBy.zipWithIndex.map { case ((f, _), i) =>
      cexpr(JString("$" + f)).as(s"__k$i") } :+ output.as("__out")): _*)
    def keep(ds: Seq[Boolean], k: Int) = keep0(packed, ds, k)
    op match {
      case "$top"    => element_at(keep(dirs, 1), 1).getField("__out")
      case "$bottom" => element_at(keep(dirs.map(!_), 1), 1).getField("__out")
      case "$topN"   => transform(keep(dirs, n), _.getField("__out"))
      case _ => transform(reverse(keep(dirs.map(!_), n)), _.getField("__out"))
    }
  }

  def group(df: DataFrame, g: Group)(implicit ctx: ExprCtx): DataFrame = {
    val idSpec = g.id
    val accs: List[(String, Column)] = g.accs.map { a =>
      // $mergeObjects over typed struct docs: shallow overlay in arrival
      // order ≡ per-field latest non-null (null/missing fields don't
      // overwrite — Group.java:291-304); probe the expression's type
      a.field -> (if (a.op == "$mergeObjects") {
        val c = cexpr(a.input)
        df.select(c).schema.head.dataType match {
          case st: StructType =>
            struct(st.fieldNames.map(f =>
              last(c.getField(f), ignoreNulls = true).as(f)).toIndexedSeq: _*)
          case _ => accumulator(a)
        }
      } else accumulator(a))
    }
    val aggCols = accs.map { case (n, c) => c.as(n) }
    if (isLiteralId(idSpec))
      // literal key = single global bucket, emitted as _id: null
      // (Group.java:88,385-388); empty input -> NO output row (the reference
      // emits per message), so guard on the input count
      df.groupBy().agg(count(lit(1)).as("__n"), aggCols: _*)
        .filter(col("__n") > 0)
        .select((lit(null).cast(StringType).as("_id") :: accs.map(a => col(a._1))): _*)
    else {
      // an accumulator-less $group is MongoDB's distinct-keys form
      val keyed = df.groupBy(cexpr(idSpec).as("_id"))
      val grouped =
        if (aggCols.isEmpty) keyed.agg(count(lit(1)).as("__n")).drop("__n")
        else keyed.agg(aggCols.head, aggCols.tail: _*)
      // output key = stringified group key (Group.java:430) — only in the
      // keyed message model
      if (df.columns.contains("key")) grouped.withColumn("key", col("_id").cast(StringType))
      else grouped
    }
  }

  /** `$count` stage: → `$group {_id:null, f:{$sum:1}}` minus `_id`
    * (Count.java:28-41). */
  def countStage(df: DataFrame, field: String): DataFrame =
    df.groupBy().agg(count(lit(1)).as(field)).filter(col(field) > 0)

  /** `$documents` (MQL db.aggregate() entry stage): a literal array of
    * documents becomes the stream. Schema is inferred from the rendered
    * JSON (the DYNAMIC engine carries the documents exactly); a driver-side
    * literal, so no distribution concerns. */
  def documents(spark: org.apache.spark.sql.SparkSession, spec: JValue): DataFrame = {
    val docs = spec match {
      case JArray(ds) if ds.forall(_.isInstanceOf[JObject]) => ds
      case other => throw new IllegalArgumentException(
        s"$$documents expects an array of objects: $other")
    }
    val jsons = docs.map(d => JsonMethods.compact(JsonMethods.render(d)))
    spark.read.json(spark.createDataset(jsons)(org.apache.spark.sql.Encoders.STRING))
  }

  /** `$bucketAuto` (MQL, beyond the reference's stage set): split the input
    * into `buckets` groups of as-equal-as-possible size along the sorted
    * `groupBy` value. Distributed shape: [[graft.operators.GlobalRank]]
    * (range exchange + per-partition rank with broadcast offsets — NOT a
    * single-partition window), ties keep the bucket of their first
    * occurrence (rank, not row_number, so equal values never split), then
    * an ordinary hash aggregation per bucket. Boundaries follow Mongo:
    * each bucket's `_id.max` is the next bucket's `_id.min`; the last
    * bucket's max is the global max (inclusive). `granularity` rounding is
    * not supported (clear error). At 100 TB swap the exact rank for
    * approx_percentile boundaries — the aggregation shape is unchanged. */
  def bucketAuto(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gb = cexpr(spec \ "groupBy")
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
    // validated before the ranking runs its jobs
    val aggs = StageSpec.accumulators(outputs)
      .map(a => accumulator(a)(ctxFor(df)).as(a.field))
    val ranked = graft.operators.GlobalRank
      .withRank(df.withColumn("__v", gb), "__v", "__rk", "__n")
      .withColumn("__b", expr(s"((__rk - 1) * $b) div __n"))
    val grouped = ranked.groupBy(col("__b"))
      .agg(min(col("__v")).as("__min"), (max(col("__v")).as("__max") +: aggs): _*)
    grouped
      .withColumn("__nextMin", lead(col("__min"), 1).over(Window.orderBy(col("__b"))))
      .select(struct(col("__min").as("min"),
        coalesce(col("__nextMin"), col("__max")).as("max")).as("_id") +:
        outputs.map { case (name, _) => col(name) }: _*)
  }

  /** `$search` (Atlas MQL surface, documented subset): the `text` operator
    * with BM25 relevance (k1 = 1.2, b = 0.75, the Lucene defaults). Only
    * documents matching at least one query term survive, scored into the
    * hidden `__searchScore` column ({"$meta": "searchScore"}), highest
    * first. Distributed shape: ONE aggregate row carries N/avgdl/per-term
    * document frequencies and broadcasts back, so scoring is a map-side
    * projection; nothing driver-side scales with the corpus. Compound
    * operators/fuzzy/index options are not supported (clear error). */
  def search(df: DataFrame, spec: JValue): DataFrame = {
    val text = spec \ "text" match {
      case o: JObject => o
      case _ => throw new IllegalArgumentException(
        "$search: only the text operator is supported")
    }
    val JString(query) = ((text \ "query"): @unchecked)
    val paths: Seq[String] = text \ "path" match {
      case JString(p)  => Seq(p)
      case JArray(ps)  => ps.map { case JString(p) => p
        case other => throw new IllegalArgumentException(s"$$search path: $other") }
      case other => throw new IllegalArgumentException(s"$$search path: $other")
    }
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, "$search: empty query")
    val (k1, b) = (1.2, 0.75)
    val textCol = concat_ws(" ", paths.map(col): _*)
    val toks = graft.llm.TextOps.tokens(lower(textCol))
    val withToks = df.withColumn("__toks", toks)
      .withColumn("__dl", size(col("__toks")).cast(DoubleType))
    val statAggs = count(lit(1)).cast(DoubleType).as("__n") +:
      avg(col("__dl")).as("__avgdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(array_contains(col("__toks"), t).cast("long"))
          .cast(DoubleType).as(s"__df$i")
      }
    val stats = withToks.agg(statAggs.head, statAggs.tail: _*)
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("__toks"), x => x === t)).cast(DoubleType)
      val idf = log((col("__n") - col(s"__df$i") + 0.5) /
        (col(s"__df$i") + 0.5) + 1.0)
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }.reduce(_ + _)
    withToks.crossJoin(broadcast(stats))
      .withColumn("__searchScore", score)
      .filter(col("__searchScore") > 0d)
      .drop((Seq("__toks", "__dl", "__n", "__avgdl") ++
        terms.indices.map(i => s"__df$i")): _*)
      .orderBy(col("__searchScore").desc)
  }

  /** `$vectorSearch` (Atlas MQL surface, beyond the reference): cosine
    * top-`limit` of the `path` embedding column against a literal
    * `queryVector`. This is the EXACT path — one scan, a codegen'd dot
    * product per row ([[graft.functions.DotProduct]]), and a TakeOrdered
    * (no global sort materialization); `numCandidates` is advisory here.
    * The approximate 100 TB paths with the same contract are
    * [[graft.llm.VectorOps.ivfTopK]] (IVF cells) and hyperplane-LSH —
    * swap in when recall < 1.0 is acceptable. `filter` is an ordinary
    * `$match` pre-filter (pushes to the scan). The score surfaces through
    * `{"$meta": "vectorSearchScore"}` like Atlas. */
  def vectorSearch(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
    val JString(path) = ((spec \ "path"): @unchecked)
    val qv: List[Double] = spec \ "queryVector" match {
      case JArray(xs) => xs.map {
        case JDouble(d) => d; case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
        case JDecimal(d) => d.toDouble
        case other => throw new IllegalArgumentException(s"queryVector: $other")
      }
      case other => throw new IllegalArgumentException(s"queryVector: $other")
    }
    val limit = spec \ "limit" match {
      case JInt(n) if n > 0 => n.toInt
      case other => throw new IllegalArgumentException(s"$$vectorSearch limit: $other")
    }
    val filtered = spec \ "filter" match {
      case JNothing | JNull => df
      case m                => df.filter(MongoMatch.compile(m))
    }
    val q = array(qv.map(lit): _*)
    val scored = filtered.withColumn("__vsScore",
      graft.llm.VectorOps.cosine(
        col(path).cast(ArrayType(DoubleType)), q))
    scored.orderBy(col("__vsScore").desc).limit(limit)
  }

  /** `$geoNear` (MQL, beyond the reference's stage set): distance from the
    * fixed `near` point to each document's `key` location, `query`-filtered,
    * distance-bounded, nearest first. Mongo's unit rules: a GeoJSON `near`
    * point computes SPHERICAL meters (haversine on Mongo's earth radius
    * 6378100 m); a legacy `[x, y]` pair computes radians when
    * `spherical: true`, planar Euclidean in coordinate units otherwise.
    * `minDistance`/`maxDistance` bound the RAW distance (pre-multiplier);
    * `distanceMultiplier` scales only the reported `distanceField`.
    * Documents with a null/malformed location drop, like documents absent
    * from a geo index. `key` is REQUIRED here (no index metadata to infer
    * the location field from — documented deviation).
    *
    * Distributed shape: the distance is a pure codegen'd column expression
    * (sin/cos/asin — no UDF), bounds push into the scan as ordinary
    * filters, and the nearest-first order is a range-partitioned sort
    * (Mongo's own contract IS a global order). At 100 TB feed the output
    * into `.limit(k)` — Catalyst collapses sort+limit into TakeOrdered —
    * or pre-filter with `maxDistance`, which prunes before the exchange. */
  def geoNear(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
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
      case JNothing => None; case v => Some(num(v, "minDistance")) }
    val maxD = spec \ "maxDistance" match {
      case JNothing => None; case v => Some(num(v, "maxDistance")) }
    val queried = spec \ "query" match {
      case JNothing | JNull => df
      case m                => df.filter(MongoMatch.compile(m))
    }
    // location: [x, y] array column or a GeoJSON struct with `coordinates`
    val locBase = queried.schema.find(_.name == keyField).map(_.dataType) match {
      case Some(StructType(fields)) if fields.exists(_.name == "coordinates") =>
        col(keyField).getField("coordinates")
      case _ => col(keyField)
    }
    val locArr = locBase.cast(ArrayType(DoubleType))
    val x = element_at(locArr, 1)
    val y = element_at(locArr, 2)
    // Mongo's earth radius for spherical distance: 6378.1 km
    val earthR = 6378100d
    val rawDist =
      if (spherical) {
        val phi1 = radians(lit(nearY)); val phi2 = radians(y)
        val dPhi = radians(y - lit(nearY)); val dLam = radians(x - lit(nearX))
        val h = pow(sin(dPhi / 2), 2) + cos(phi1) * cos(phi2) * pow(sin(dLam / 2), 2)
        val rad = lit(2) * asin(sqrt(h))
        if (geoJson) rad * lit(earthR) else rad // legacy spherical = radians
      } else
        sqrt(pow(x - lit(nearX), 2) + pow(y - lit(nearY), 2))
    val located = queried
      .filter(locArr.isNotNull && size(locArr) === 2 &&
        x.isNotNull && y.isNotNull)
      .withColumn("__geoDist", rawDist)
    val bounded = (minD, maxD) match {
      case (Some(lo), Some(hi)) =>
        located.filter(col("__geoDist") >= lo && col("__geoDist") <= hi)
      case (Some(lo), None) => located.filter(col("__geoDist") >= lo)
      case (None, Some(hi)) => located.filter(col("__geoDist") <= hi)
      case _                => located
    }
    val withLocs = spec \ "includeLocs" match {
      case JString(f) => bounded.withColumn(f, col(keyField))
      case JNothing   => bounded
      case other => throw new IllegalArgumentException(s"$$geoNear includeLocs: $other")
    }
    withLocs
      .withColumn(distanceField, col("__geoDist") * lit(multiplier))
      .drop("__geoDist")
      .orderBy(col(distanceField).asc)
  }

  /** `$graphLookup` (MQL, beyond the reference's stage set): recursive
    * lookup over `from` — a breadth-first search per input document.
    * Distributed shape: the BFS is keyed by DISTINCT start value, not by
    * source row — every input doc with the same `startWith` (a fact table ⋈
    * a small dimension graph) shares one walk, so frontier state scales
    * with the dimension, not the input. Every round is ONE hash equi-join
    * frontier ⋈ from on `connectToField` plus a left-anti join against the
    * visited set — no data ever sits on the driver, only a loop bounded by
    * `maxDepth` (or by the longest acyclic chain: visited-dedup guarantees
    * termination on cycles). Rounds localCheckpoint their deltas to cut
    * lineage; each doc carries its FIRST-visit depth (BFS depth), like
    * Mongo. Array-valued `startWith`/`connectFromField` fan out via
    * explode; an array start takes the min depth per reached doc. */
  def graphLookup(df: DataFrame, spec: JValue, catalog: String => DataFrame)
      (implicit ctx: ExprCtx): DataFrame = {
    val JString(fromName) = ((spec \ "from"): @unchecked)
    val JString(asField) = ((spec \ "as"): @unchecked)
    val JString(connectFrom) = ((spec \ "connectFromField"): @unchecked)
    val JString(connectTo) = ((spec \ "connectToField"): @unchecked)
    val maxDepth: Option[Int] = spec \ "maxDepth" match {
      case JInt(d)  => Some(d.toInt)
      case JNothing => None
      case other => throw new IllegalArgumentException(s"maxDepth: $other")
    }
    val depthField: Option[String] = spec \ "depthField" match {
      case JString(f) => Some(f)
      case JNothing   => None
      case other => throw new IllegalArgumentException(s"depthField: $other")
    }
    val from0 = catalog(fromName)
    val from = spec \ "restrictSearchWithMatch" match {
      case JNothing | JNull => from0
      case m => from0.filter(MongoMatch.compile(m)(ctxFor(from0)))
    }
    val fromPacked = from.select(
      col(connectTo).as("__to"),
      col(connectFrom).as("__nextRaw"),
      struct(from.columns.map(col).toIndexedSeq: _*).as("__doc"))
    val nextIsArray = fromPacked.schema("__nextRaw").dataType.isInstanceOf[ArrayType]
    val sw = cexpr(spec \ "startWith")
    val swIsArray = df.select(sw.as("__sw")).schema("__sw")
      .dataType.isInstanceOf[ArrayType]
    // BFS origins: distinct start values
    val origins =
      (if (swIsArray) df.select(explode(sw).as("__start"))
       else df.select(sw.as("__start")))
        .filter(col("__start").isNotNull).distinct()
    var frontier = origins.select(col("__start"), col("__start").as("__node"))
    var visited: DataFrame = null // (__start, __h): doc identity per origin
    var found: DataFrame = null   // (__start, __h, __doc, __depth)
    var depth = 0
    var done = false
    // ONE Spark job per BFS round: the round's row count rides the eager
    // localCheckpoint materialization in an accumulator (no separate
    // isEmpty job; retries can only over-count, an empty round reads 0),
    // and `visited` is NOT re-checkpointed — it stays a linear union of
    // already-checkpointed per-round slices, so its plan grows one cheap
    // union node per round with no recomputation.
    val roundRows = df.sparkSession.sparkContext.longAccumulator("graphLookupRound")
    while (!done) {
      val hits = frontier
        .join(fromPacked, frontier("__node") === fromPacked("__to"))
        .select(col("__start"), col("__doc"), col("__nextRaw"),
          xxhash64(col("__doc")).as("__h"))
      val pre = (if (visited == null) hits
                 else hits.join(visited, Seq("__start", "__h"), "left_anti"))
        .dropDuplicates("__start", "__h")
      roundRows.reset()
      val newDocs = pre.mapPartitions { it =>
        it.map { r => roundRows.add(1L); r }
      }(org.apache.spark.sql.Encoders.row(pre.schema)).toDF().localCheckpoint()
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
          frontier =
            (if (nextIsArray)
               newDocs.select(col("__start"), explode(col("__nextRaw")).as("__node"))
             else newDocs.select(col("__start"), col("__nextRaw").as("__node")))
              .filter(col("__node").isNotNull).distinct()
          depth += 1
        }
      }
    }
    val docType = fromPacked.schema("__doc").dataType.asInstanceOf[StructType]
    val elemType = depthField.fold(docType)(f =>
      StructType(docType.fields :+ StructField(f, LongType)))
    val emptyArr = array().cast(ArrayType(elemType))
    def elem(doc: Column, d: Column) =
      depthField.fold(doc)(f => doc.withField(f, d))
    if (found == null) df.withColumn(asField, emptyArr)
    else if (!swIsArray) {
      // scalar start: the closure array joins straight back on the value
      val packed = found
        .select(col("__start"), elem(col("__doc"), col("__depth")).as("__elem"))
        .groupBy("__start").agg(collect_list(col("__elem")).as(asField))
      df.join(packed, sw === packed("__start"), "left")
        .withColumn(asField, coalesce(col(asField), emptyArr))
        .drop("__start")
    } else {
      // array start: a doc reachable from several elements appears once,
      // at its min depth (BFS-from-a-set semantics); row id only for
      // regrouping — pinned, since monotonically_increasing_id is
      // plan-nondeterministic
      val src = df.withColumn("__gid", monotonically_increasing_id())
        .localCheckpoint()
      val elems = src.select(col("__gid"), explode(sw).as("__start"))
      val best = elems.join(found, "__start" :: Nil)
        .groupBy(col("__gid"), col("__h"))
        .agg(min(col("__depth")).as("__depth"), first(col("__doc")).as("__doc"))
      val packed = best
        .select(col("__gid"), elem(col("__doc"), col("__depth")).as("__elem"))
        .groupBy("__gid").agg(collect_list(col("__elem")).as(asField))
      src.join(packed, Seq("__gid"), "left")
        .withColumn(asField, coalesce(col(asField), emptyArr))
        .drop("__gid")
    }
  }

  // ---- $lookup ------------------------------------------------------------

  /** Equality form: pre-aggregate the static side per foreign key (one
    * shuffle of the small side; AQE broadcasts it when small) and left-join —
    * the huge stream side is never re-grouped. Pipeline/let form and
    * array-valued local fields: join + regroup by a synthetic row id.
    * (Lookup.java:59-201.) */
  def lookup(df: DataFrame, l: Lookup, catalog: String => DataFrame,
      remote: (String, String, String) => DataFrame)
      (implicit ctx: ExprCtx): DataFrame = {
    // remote form (Lookup.java:74-78): connectionString + database switch
    // the `from` resolution to a second store; all join forms are identical
    val from = l.remote.fold(catalog(l.from)) { case (uri, dbn) => remote(uri, dbn, l.from) }
    val (as, inner, unwindFlag) = (l.as, l.inner, l.unwind)
    val fromDoc = from.select(struct(from.columns.map(col).toIndexedSeq: _*).as("__as"))

    def regroupJoin(cond: Column, res: Column,
        docFrame: DataFrame = fromDoc): DataFrame = {
      val withId = df.withColumn("__rid", monotonically_increasing_id())
      val keepCols = df.columns.toIndexedSeq
      val j = withId.join(docFrame, cond, "left")
      j.groupBy(col("__rid"))
        .agg(first(col(keepCols.head)).as(keepCols.head),
          (keepCols.tail.map(c => first(col(c)).as(c)) :+
            collect_list(res).as(as)): _*)
        .drop("__rid")
    }

    l.local match {
      case Some((local, foreign)) =>
        val localCol = ctx.field(local)
        val localIsArray =
          df.select(localCol).schema.head.dataType.isInstanceOf[ArrayType]
        val matchCond =
          if (localIsArray) array_contains(localCol, col("__as").getField(foreign))
          else localCol === col("__as").getField(foreign)
        if (unwindFlag) // one output per match, `as` scalar (Lookup.java:144-148)
          df.join(fromDoc, matchCond, "inner").withColumnRenamed("__as", as)
        else if (localIsArray) {
          val j = regroupJoin(matchCond, col("__as"))
          if (inner) j.filter(size(col(as)) > 0) else j
        } else {
          val grouped = from
            .groupBy(col(foreign).as("__fk"))
            .agg(collect_list(struct(from.columns.map(col).toIndexedSeq: _*))
              .as("__matches"))
          val elemType =
            grouped.schema("__matches").dataType.asInstanceOf[ArrayType].elementType
          val j = df.join(grouped, localCol === col("__fk"), "left")
            .withColumn(as, coalesce(col("__matches"), array().cast(ArrayType(elemType))))
            .drop("__fk", "__matches")
          if (inner) j.filter(size(col(as)) > 0) else j
        }
      case _ =>
        // let + pipeline form (Lookup.java:110-129: the sub-pipeline is sent
        // verbatim to MongoDB's aggregate, so ANY stage is legal). Spark
        // split:
        //  1. the longest PREFIX of stages not referencing let-variables is
        //     uncorrelated — it runs ONCE against the `from` collection
        //     through a full recursive Pipeline (any stage: $match, $group,
        //     $unwind, …), exactly what Mongo computes per message;
        //  2. the first $$var-referencing stage must be a $match — it
        //     becomes the join condition;
        //  3. TRAILING $sort / $limit / $project apply per message on the
        //     matched array (array_sort comparator / slice / per-element
        //     struct projection) — no extra shuffle, the per-message top-k
        //     pattern.
        val letVars: Map[String, Column] = l.let.map { case (n, e) => n -> cexpr(e) }.toMap
        // StageSpec split the sub-pipeline at the first let-variable
        // reference (structural "$$name" detection, never a substring scan)
        val (prefixStages, trailing) = (l.prefix, l.trailing)
        val effFrom =
          if (prefixStages.isEmpty) from
          else new Pipeline(catalog = catalog).run(from, JArray(prefixStages))
        val fromDoc2 = effFrom.select(
          struct(effFrom.columns.map(col).toIndexedSeq: _*).as("__as"))
        val fromStruct2 = fromDoc2.schema("__as").dataType.asInstanceOf[StructType]
        val subCtx = ExprCtx(
          field = p => p.split('.').foldLeft(col("__as"))(_ getField _),
          vars = letVars)
        // no correlated $match -> every message gets the whole (prefixed)
        // collection, like Mongo running the sub-pipeline as-is
        val cond = l.correlated.map(m => MongoMatch.compile(m)(subCtx))
          .getOrElse(lit(true))

        def sortCmp(keys: List[(String, Boolean)], a: Column, b: Column): Column =
          keys.foldRight(lit(0)) { case ((f, asc), tie) =>
            val (lf, rf) = (a.getField(f), b.getField(f))
            when(lf < rf, lit(if (asc) -1 else 1))
              .when(lf > rf, lit(if (asc) 1 else -1))
              .otherwise(tie)
          }
        /** Trailing sub-stages over the per-message matched array. */
        def applyTrailing(arr0: Column): Column =
          trailing.foldLeft(arr0) { (arr, st) =>
            st.args match {
              case Sort(keys) => array_sort(arr, (a, b) => sortCmp(keys, a, b))
              case Limit(n)   => slice(arr, 1, n)
              case _          => transform(arr, d => projectDoc(d, fromStruct2, st.spec))
            }
          }
        // unwind mode emits rows, not arrays: a per-row $project applies
        // directly; trailing $sort/$limit need the ARRAY form first — build
        // the grouped array, apply trailing, then explode (explode drops
        // empty arrays, which is exactly unwind's inner-join semantics)
        val unwindViaArray = unwindFlag &&
          (trailing.size > 1 || trailing.exists(_.name != "$project"))
        val unwindRows = unwindFlag && !unwindViaArray
        def resDoc(doc: Column): Column =
          trailing.headOption.fold(doc)(p => projectDoc(doc, fromStruct2, p.spec))

        // `_rangeJoin: {field, width, lo, hi}` turns the theta join into a
        // bucketed equi-join: the right side lands in bucket
        // floor(field/width); each left row probes buckets floor(lo/width)..
        // floor(hi/width). Both sides shuffle on the bucket hash (sort-merge/
        // shuffled-hash) instead of a BroadcastNestedLoopJoin — the scale
        // path for band predicates (docs/SCALING.md §3). The original $match
        // condition is still applied, so results are exact.
        l.rangeJoin match {
          case rj: JObject =>
            val bField = str(rj \ "field")
            val width = (rj \ "width") match {
              case JInt(i) => i.toDouble; case JLong(l) => l.toDouble
              case JDouble(d) => d; case JDecimal(d) => d.toDouble
              case other => throw new IllegalArgumentException(s"width: $other")
            }
            val lo = cexpr(rj \ "lo")
            val hi = cexpr(rj \ "hi")
            val right = fromDoc2.withColumn("__bucket",
              floor(col("__as").getField(bField) / width))
            val probes = sequence(floor(lo / width), floor(hi / width))
            if (unwindRows) {
              val left = df.withColumn("__bucket", explode_outer(probes))
              left.join(right, Seq("__bucket")).filter(cond)
                .drop("__bucket").withColumn(as, resDoc(col("__as"))).drop("__as")
            } else {
              val keepCols = df.columns.toIndexedSeq
              val left = df.withColumn("__rid", monotonically_increasing_id())
                .withColumn("__bucket", explode_outer(probes)) // null range -> kept, no match
              // a right row lives in exactly one bucket -> no duplicate pairs
              // (collect raw docs — nulls are skipped — THEN run trailing
              // stages over the clean array)
              val j = left.join(right, Seq("__bucket"), "left")
                .withColumn("__as", when(cond, col("__as")))
                .groupBy(col("__rid"))
                .agg(first(col(keepCols.head)).as(keepCols.head),
                  (keepCols.tail.map(c => first(col(c)).as(c)) :+
                    collect_list(col("__as")).as(as)): _*)
                .drop("__rid")
                .withColumn(as, applyTrailing(col(as)))
              val kept = if (inner) j.filter(size(col(as)) > 0) else j
              if (unwindViaArray) kept.withColumn(as, explode(col(as)))
              else kept
            }
          case _ =>
            // Refuse a silent O(n·m) plan: a non-equality condition over a
            // `from` side that cannot broadcast would run as a
            // BroadcastNestedLoopJoin / CartesianProduct streaming the whole
            // fact side against the whole `from` side. The `_rangeJoin`
            // bucketing above is the scale path; demand it explicitly.
            def guarded(joined: DataFrame): DataFrame = {
              val sess = joined.sparkSession
              val thresh = org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(
                  sess.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
              val fromBytes = fromDoc2.queryExecution.optimizedPlan.stats.sizeInBytes
              if (thresh > 0 && fromBytes > BigInt(thresh)) {
                val bad = joined.queryExecution.sparkPlan.collect {
                  case p if p.nodeName.contains("BroadcastNestedLoopJoin") ||
                    p.nodeName.contains("CartesianProduct") => p.nodeName
                }
                if (bad.nonEmpty) throw new IllegalArgumentException(
                  s"$$lookup: non-equality join condition with a `from` side " +
                    s"of ~$fromBytes bytes (> spark.sql." +
                    s"autoBroadcastJoinThreshold=$thresh) would plan " +
                    s"${bad.head} — O(n*m) at scale. Add _rangeJoin " +
                    "{field, width, lo, hi} to bucket the predicate, or " +
                    "raise the threshold if the `from` side truly fits in " +
                    "executor memory.")
              }
              joined
            }
            if (unwindRows)
              guarded(df.join(fromDoc2, cond, "inner"))
                .withColumn(as, resDoc(col("__as"))).drop("__as")
            else {
              guarded(df.join(fromDoc2, cond, "left")) // plan probe only
              val j = regroupJoin(cond, col("__as"), fromDoc2)
                .withColumn(as, applyTrailing(col(as)))
              val kept = if (inner) j.filter(size(col(as)) > 0) else j
              if (unwindViaArray) kept.withColumn(as, explode(col(as)))
              else kept
            }
        }
    }
  }

  // ---- $deduplicate -------------------------------------------------------

  /** `$setWindowFields` (MQL 5.0+, BEYOND the reference's stage set): window
    * functions over the document stream. partitionBy/sortBy map 1:1 onto a
    * Spark [[org.apache.spark.sql.expressions.Window]] — one hash exchange on
    * the partition key, a per-partition sort, and every output field shares
    * that single Window exec. A null/absent partitionBy is Mongo's global
    * window (single partition — document the scale cost; give it a
    * partitionBy at 100 TB).
    *
    * Supported output operators: $sum $avg $min $max $count $push $addToSet
    * $first $last $stdDevPop $stdDevSamp $covariancePop $covarianceSamp
    * $rank $denseRank $documentNumber $shift $locf $linearFill $derivative
    * $integral $expMovingAvg, with `window.documents` row frames
    * (`"unbounded" | "current" | <int>` bounds) and `window.range` value
    * frames (single sortBy key; `unit` scales date keys). Default frame
    * follows Mongo: the WHOLE partition (documents ["unbounded",
    * "unbounded"]) even when sortBy is given; rank-family ops use the bare
    * ordered window; $locf/$linearFill/$expMovingAvg take no window and
    * carry their own frames.
    * $shift's `default` fills ONLY out-of-partition positions (Lead/Lag's
    * native default); an in-partition data null stays null, per Mongo.
    * Frames ending at unboundedFollowing are
    * rewritten onto the reversed sort order (growing frames, incremental)
    * so no window here is O(partition²). */
  def setWindowFields(df: DataFrame, w: SetWindowFields)(implicit ctx: ExprCtx): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val partCols: Seq[Column] = Seq(w.partitionBy.fold(lit(1))(cexpr(_)))
    val sortKeys = w.sortBy
    val ordered: WindowSpec = {
      val base = Window.partitionBy(partCols: _*)
      if (sortKeys.isEmpty) base
      else base.orderBy(sortKeys.map { case (f, asc) =>
        if (asc) sortKeyCol(df, f).asc else sortKeyCol(df, f).desc }: _*)
    }
    // the same partitioning over the REVERSED sort: frames that end at
    // unboundedFollowing ("shrinking" frames) force Spark's window executor
    // to re-scan the remainder of the partition for EVERY row — O(n²) per
    // partition. Any [lo, +unbounded) frame is the same row set as the
    // growing (-unbounded, -lo] frame over the reversed order, which
    // evaluates incrementally. (With duplicate sort keys the tie order may
    // differ — documents frames over ties are order-dependent in Mongo too.)
    val orderedRev: WindowSpec = {
      val base = Window.partitionBy(partCols: _*)
      if (sortKeys.isEmpty) base
      else base.orderBy(sortKeys.map { case (f, asc) =>
        if (asc) sortKeyCol(df, f).desc else sortKeyCol(df, f).asc }: _*)
    }
    val sortIsDate = sortKeys.headOption.exists { case (f, _) =>
      df.schema.find(_.name == f).exists(f0 =>
        f0.dataType == TimestampType || f0.dataType == DateType)
    }
    /** The single sortBy key as a numeric axis: epoch millis over `unit` for
      * date keys, the raw numeric for number keys ($derivative/$integral/
      * $linearFill/range frames — Mongo restricts all of them the same way). */
    def sortAxis(unit: Option[String]): Column = {
      val f = col(sortKeys.head._1)
      if (sortIsDate) {
        val u = unit.getOrElse("millisecond")
        unix_millis(f.cast(TimestampType)).cast(DoubleType) /
          lit(StageSpec.unitMillis(u).toDouble)
      } else {
        require(unit.isEmpty, "unit is only valid for a date sortBy field")
        f.cast(DoubleType)
      }
    }
    w.outputs.foldLeft(df) { (acc, o) =>
      val (name, op, docFrame, rangeFrame) = (o.field, o.op, o.frame.documents,
        o.frame.range.map { case (lo, hi) => (lo, hi, o.frame.unit) })
      def in = cexpr(o.input)
      // `reversed` marks a shrinking [lo, +unbounded) frame rewritten onto
      // the reversed sort order (see orderedRev); order-SENSITIVE ops must
      // then swap first<->last / reverse their collected lists
      val (framed: WindowSpec, reversed: Boolean) = (docFrame, rangeFrame) match {
        case (Some((lo, hi)), _) if hi == Window.unboundedFollowing &&
            lo != Window.unboundedPreceding && sortKeys.nonEmpty =>
          (orderedRev.rowsBetween(Window.unboundedPreceding, -lo), true)
        case (Some((lo, hi)), _) => (ordered.rowsBetween(lo, hi), false)
        case (None, Some((lo, hi, unit))) =>
          // a range frame orders by the numeric axis itself — one sortBy key;
          // date keys scale to `unit` so integer bounds mean whole units
          val axis = sortAxis(unit)
          def base(asc: Boolean) = Window.partitionBy(partCols: _*)
            .orderBy(if (asc) axis.asc else axis.desc)
          if (hi == Window.unboundedFollowing && lo != Window.unboundedPreceding)
            (base(!sortKeys.head._2)
              .rangeBetween(Window.unboundedPreceding, -lo), true)
          else (base(sortKeys.head._2).rangeBetween(lo, hi), false)
        case (None, None) if (StageSpec.rankOps(op) || op == "$shift") &&
            sortKeys.nonEmpty => (ordered, false)
        case (None, None) => // Mongo default: documents ["unbounded",
          // "unbounded"] — the whole partition, sorted or not
          (ordered.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing), false)
      }
      val c = op match {
        case "$sum" => // empty frame -> 0, like Mongo (not SQL's null)
          coalesce(sum(in).over(framed), lit(0))
        case "$avg"   => avg(in).over(framed)
        case "$min"   => min(in).over(framed)
        case "$max"   => max(in).over(framed)
        case "$count" => count(lit(1)).over(framed)
        case "$push" =>
          val c0 = collect_list(in).over(framed)
          if (reversed) reverse(c0) else c0
        case "$addToSet" => array_sort(collect_set(in).over(framed))
        case "$first" =>
          if (reversed) last(in).over(framed)
          else first(in).over(framed)
        case "$last" =>
          if (reversed) first(in).over(framed)
          else last(in).over(framed)
        case "$stdDevPop"  => stddev_pop(in).over(framed)
        case "$stdDevSamp" => stddev_samp(in).over(framed)
        case "$median" => // exact linear interpolation over the frame
          percentile(in.cast(DoubleType), lit(0.5))
            .over(framed)
        case "$percentile" =>
          percentile(in.cast(DoubleType), array(o.ps.map(lit): _*))
            .over(framed)
        case "$covariancePop"  => covar_pop(in, cexpr(o.y)).over(framed)
        case "$covarianceSamp" => covar_samp(in, cexpr(o.y)).over(framed)
        case "$locf" => // last observation carried forward — takes no
          // window in Mongo; always the backward cumulative frame
          last(in, ignoreNulls = true).over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "$linearFill" =>
          // interpolate nulls between the nearest non-null neighbors along
          // the sort axis; nulls before the first / after the last non-null
          // stay null (both neighbor aggregates come back null there)
          val v = in.cast(DoubleType)
          val x = sortAxis(None)
          val back = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          // the forward neighbor scan rides the REVERSED order as a growing
          // frame — a [current, +unbounded) frame re-scans the partition
          // tail per row (O(n²)); this is the same row set, incremental
          val revBack = orderedRev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val prevV = last(v, ignoreNulls = true).over(back)
          val prevX = last(when(v.isNotNull, x), ignoreNulls = true).over(back)
          val nextV = last(v, ignoreNulls = true).over(revBack)
          val nextX = last(when(v.isNotNull, x), ignoreNulls = true).over(revBack)
          when(v.isNotNull, v).otherwise(
            prevV + (nextV - prevV) * (x - prevX) / (nextX - prevX))
        case "$derivative" =>
          // slope across the frame: Δinput / Δaxis (null when the frame
          // holds fewer than two distinct axis points, like Mongo)
          val v = in.cast(DoubleType)
          val x = sortAxis(o.unit)
          // under a reversed frame the traversal order flips: the frame's
          // last row in sort order is the reversed frame's FIRST
          def edge(c: Column, atEnd: Boolean) =
            (if (atEnd != reversed) last(c) else first(c)).over(framed)
          val dx = edge(x, atEnd = true) - edge(x, atEnd = false)
          when(dx =!= 0d, (edge(v, atEnd = true) - edge(v, atEnd = false)) / dx)
        case "$integral" =>
          // trapezoid areas between consecutive rows, summed over the frame
          // minus its entering edge: area(i) spans (i-1, i], so a frame
          // [lo, hi] integrates areas (lo+1)..hi — an unbounded lo keeps
          // unbounded (the partition-first area is null and drops out)
          val v = in.cast(DoubleType)
          val x = sortAxis(o.unit)
          val area = (x - lag(x, 1).over(ordered)) *
            (v + lag(v, 1).over(ordered)) / 2d
          if (rangeFrame.isDefined) {
            // range frame: in-frame rows are contiguous on the sort axis, so
            // the integral over in-frame points is the frame's area sum minus
            // the entering edge (the one area spanning a point OUTSIDE the
            // frame). `framed` already carries the range bounds (scaled by
            // the window's own unit); under a reversed (shrinking) frame the
            // entering edge in sort order is the frame's LAST row.
            val entering = (if (reversed) last(area) else first(area)).over(framed)
            coalesce(sum(area).over(framed) - coalesce(entering, lit(0d)), lit(0d))
          } else {
          val (lo, hi) = docFrame.getOrElse(
            (Window.unboundedPreceding, Window.unboundedFollowing))
          val loShift = if (lo == Window.unboundedPreceding) lo else lo + 1
          if (loShift != Window.unboundedPreceding &&
              hi != Window.unboundedFollowing && loShift > hi) lit(0d)
          else if (hi == Window.unboundedFollowing &&
              loShift != Window.unboundedPreceding)
            // shrinking sum frame -> growing frame on the reversed order
            coalesce(sum(area).over(orderedRev.rowsBetween(
              Window.unboundedPreceding, -loShift)), lit(0d))
          else coalesce(
            sum(area).over(ordered.rowsBetween(loShift, hi)), lit(0d))
          }
        case "$expMovingAvg" =>
          // EMA_i = α·x_i + (1-α)·EMA_{i-1}; null inputs carry the previous
          // EMA forward (Mongo's rule). Incremental custom aggregate over
          // the growing frame — O(1) state per row, not a history fold
          // (Mongo forbids a window spec here, it is always cumulative).
          graft.functions.EmaAgg.ema(in, o.alpha).over(
            ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        // N-family window operators ride graft.functions.BoundedTopK — the
        // composable collect_list+array_sort form re-sorts the WHOLE
        // collected history per row of a growing frame (O(frame² log frame),
        // a measured multi-minute stall at sf0.1); the bounded incremental
        // aggregate is O(log k) per row with at most k buffered rows
        case "$minN" | "$maxN" => // n smallest/largest over the frame
          val input = in
          // null inputs skipped (NULL packed row), Mongo's rule
          val packed = when(input.isNotNull,
            struct(input.as("__k0"), input.as("__out")))
          transform(graft.functions.BoundedTopK.sortedTopK(packed,
            Seq(op == "$minN"), o.n).over(framed), _.getField("__out"))
        case "$firstN" | "$lastN" => // first/last n in frame (sort) order;
          // nulls are NOT filtered (Mongo's rule — unlike $minN/$maxN)
          val (packed, n) = (struct(in.as("__out")), o.n)
          // a reversed (shrinking→reversed-order) frame flips arrival order:
          // firstN becomes lastN of the reversed stream, read back reversed
          val takeFirst = (op == "$firstN") != reversed
          val kept = (if (takeFirst)
            graft.functions.BoundedTopK.firstN(packed, n)
          else graft.functions.BoundedTopK.lastN(packed, n)).over(framed)
          val ordered0 = if (reversed) reverse(kept) else kept
          transform(ordered0, _.getField("__out"))
        case "$top" | "$bottom" | "$topN" | "$bottomN" =>
          // {output, sortBy, n?} over the frame — same null-safe Mongo
          // comparator rule as the group accumulators, kept incrementally
          topFamily(op, o.sortBy, in, o.n, (p, ds, k) =>
            graft.functions.BoundedTopK.sortedTopK(p, ds, k).over(framed))
        case "$rank"           => rank().over(ordered)
        case "$denseRank"      => dense_rank().over(ordered)
        case "$documentNumber" => row_number().over(ordered)
        case "$shift" =>
          val (outC, by) = (in, o.by)
          // default applies ONLY when the shifted-to position falls outside
          // the partition (Mongo) — Lead/Lag's native default argument has
          // exactly that semantics; a data null at an in-partition position
          // stays null (was: coalesce, which also filled data nulls)
          o.default match {
            case None =>
              (if (by >= 0) lead(outC, by) else lag(outC, -by)).over(ordered)
            case Some(d) =>
              import org.apache.spark.sql.catalyst.expressions.{Lag, Lead, Literal}
              import org.apache.spark.sql.graftops.ColumnBridge
              val in = ColumnBridge.expression(outC)
              val dflt = ColumnBridge.expression(cexpr(d))
              ColumnBridge.column(
                if (by >= 0) Lead(in, Literal(by), dflt, false)
                else Lag(in, Literal(-by), dflt, false)).over(ordered)
          }
      }
      acc.withColumn(name, c)
    }
  }

  /** `$sort` (batch-only; the reference's unbounded streams cannot sort).
    * Mongo null placement matches Spark defaults: nulls first ascending,
    * last descending. A global sort is a range-exchange over the whole
    * input — fine for bounded pipelines, deliberate cost at 100 TB. */
  /** A sort/rank key: a path the document does not have sorts as a
    * constant (all tie, Mongo's missing==null rule). A bare col(f) would
    * let Spark's ResolveMissingReferences RESURRECT a column dropped by
    * $unset and sort by its ghost values (found by the differential
    * fuzzer) — shared by $sort, $setWindowFields and $rankFusion. */
  def sortKeyCol(df: DataFrame, f: String): Column =
    if (resolveType(StructType(df.schema.filter(_.name != "key")), f).isDefined)
      col(f)
    else lit(null)

  def sortStage(df: DataFrame, keys: List[(String, Boolean)]): DataFrame = {
    df.orderBy(keys.map { case (f, asc) =>
      val c = sortKeyCol(df, f)
      if (asc) c.asc else c.desc
    }: _*)
  }

  /** `$densify` (MQL 5.1+, beyond the reference): generate the missing
    * points of a numeric or date sequence. `{field, partitionByFields?,
    * range: {step, unit?, bounds: "full" | "partition" | [lo, hi)}}` —
    * integer steps; with `unit` (millisecond..year) the field is a
    * timestamp and the grid steps by a calendar interval (UTC, like Mongo).
    *
    * Distributed shape: bounds are a tiny per-partition (or global) min/max
    * aggregate; `sequence()` explodes the grid per partition key (Spark's
    * sequence natively steps timestamps by day-time or year-month
    * intervals); a LEFT ANTI join against the existing (partition, value)
    * pairs keeps only the gaps; the stubs union back with every other
    * column null. No driver-side loops, no cross join wider than
    * (partitions × grid). */
  def densify(df: DataFrame, d: Densify): DataFrame = {
    val Densify(fieldName, partFields, step, unit, bounds, explicit) = d
    val stepCol = unit.fold(lit(step))(Stages.densifyInterval(_, step))
    val f = if (unit.isDefined) col(fieldName).cast(TimestampType)
            else col(fieldName).cast("long")
    val parts = partFields.map(col)
    def partKeys = if (partFields.isEmpty) df.select(lit(1).as("__one")).limit(1)
                   else df.select(parts: _*).distinct()
    val (bounded, exclusiveHi) = (bounds, explicit) match {
      case ("partition", _) =>
        (df.groupBy(parts: _*).agg(min(f).as("__lo"), max(f).as("__hi")), false)
      case (_, Some((lo, hi))) =>
        // Mongo explicit bounds are [lo, hi): generate up to hi - 1 slot;
        // dates arrive as epoch micros
        def n(v: Long): Column = if (unit.isDefined) timestamp_micros(lit(v)) else lit(v)
        (partKeys.withColumn("__lo", n(lo)).withColumn("__hi", n(hi)), true)
      case _ => // full
        val g = df.agg(min(f).as("__lo"), max(f).as("__hi"))
        (partKeys.crossJoin(broadcast(g)), false)
    }
    // exclusive hi: integers step on a unit grid so hi-1 is exact; dates are
    // millisecond-precision in Mongo so hi-1ms is the same strict bound
    val hiCol =
      if (!exclusiveHi) col("__hi")
      else if (unit.isDefined)
        col("__hi") - make_dt_interval(lit(0), lit(0), lit(0), lit(0.001))
      else col("__hi") - 1
    val fieldType = df.schema.find(_.name == fieldName).map(_.dataType)
    val grid = bounded
      .filter(col("__lo").isNotNull && col("__lo") <= hiCol)
      .select((parts :+
        explode(sequence(col("__lo"), hiCol, stepCol)).as("__gridval")): _*)
      .select((parts :+
        fieldType.fold(col("__gridval"))(col("__gridval").cast).as(fieldName)): _*)
    val existing = df.select((parts :+ col(fieldName)): _*).distinct()
    val missing = grid.join(existing, partFields :+ fieldName, "left_anti")
    df.unionByName(missing, allowMissingColumns = true)
  }

  /** Step interval for a `$densify` date unit (Mongo units, UTC calendar). */
  private[graft] def densifyInterval(unit: String, step: Long): Column =
    unit match {
      case "millisecond" =>
        make_dt_interval(lit(0), lit(0), lit(0), lit(step / 1000.0))
      case "second"  => make_dt_interval(lit(0), lit(0), lit(0), lit(step.toDouble))
      case "minute"  => make_dt_interval(lit(0), lit(0), lit(step))
      case "hour"    => make_dt_interval(lit(0), lit(step))
      case "day"     => make_dt_interval(lit(step))
      case "week"    => make_dt_interval(lit(step * 7))
      case "month"   => make_ym_interval(lit(0), lit(step.toInt))
      case "quarter" => make_ym_interval(lit(0), lit(step.toInt * 3))
      case "year"    => make_ym_interval(lit(step.toInt))
      case other => throw new IllegalArgumentException(s"$$densify unit: $other")
    }

  /** `$fill` (MQL 5.3+, beyond the reference): fill null/missing values —
    * `method: "locf"` rewrites to a `$setWindowFields` `$locf`;
    * `method: "linear"` interpolates between the bracketing non-null
    * observations ON THE SORT FIELD (Mongo's rule; requires a single
    * numeric sortBy key), via one backward + one forward window;
    * `value: <expr>` is a document-local `$ifNull`. */
  def fill(df: DataFrame, fl: Fill)(implicit ctx: ExprCtx): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val afterLocf =
      if (fl.locf.isEmpty) df
      else setWindowFields(df, SetWindowFields(fl.partitionBy, fl.sortBy,
        fl.locf.map(f => WinOut(f, "$locf", JString("$" + f), Frame()))))
    val afterLinear = if (fl.linear.isEmpty) afterLocf else {
      val sortKeys = fl.sortBy.head._1
      val s = col(sortKeys).cast("double")
      val part = fl.partitionBy.fold(lit(1))(cexpr(_)(ctxFor(afterLocf)))
      val back = Window.partitionBy(part).orderBy(col(sortKeys))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // forward neighbor scan as a GROWING frame on the reversed order —
      // a [current, +unbounded) frame is O(partition²) in Spark's executor
      val revBack = Window.partitionBy(part).orderBy(col(sortKeys).desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fl.linear.foldLeft(afterLocf) { (acc, f) =>
        val v = col(f).cast("double")
        val obs = when(v.isNotNull, struct(s.as("s"), v.as("v")))
        val prev = last(obs, ignoreNulls = true).over(back)
        val next = last(obs, ignoreNulls = true).over(revBack)
        val interp = prev.getField("v") +
          (next.getField("v") - prev.getField("v")) *
            (s - prev.getField("s")) /
            (next.getField("s") - prev.getField("s"))
        acc.withColumn(f,
          when(col(f).isNotNull, col(f))
            .when(prev.isNull || next.isNull, lit(null))
            .otherwise(interp))
      }
    }
    fl.values.foldLeft(afterLinear) { case (acc, (f, v)) =>
      addFields(acc, JObject(List(f -> JObject(List(
        "$ifNull" -> JArray(List(JString("$" + f), v)))))))
    }
  }

  /** `$throttle` (Throttle.java:28-58): pace rows to `maxPerSecond`. The
    * reference throttles per pipeline instance (= per Kafka partition); the
    * faithful Spark analogue is a per-PARTITION token bucket inside
    * `mapPartitions` — each partition paces independently, so total
    * cluster-wide rate = maxPerSecond × partitions, exactly like the
    * reference running one pipeline per partition. The reference's only
    * timing assertion (TestThrottle.java:30-42: elapsed = total/maxPerSecond
    * ± 5%) holds per partition. For source-side control in streaming, use
    * maxOffsetsPerTrigger/maxFilesPerTrigger instead — this stage is a
    * deliberate execution barrier, that's its purpose. */
  def throttle(df: DataFrame, spec: JValue): DataFrame = {
    val maxPerSecond = spec \ "maxPerSecond" match {
      case JInt(i)    => i.toDouble
      case JLong(l)   => l.toDouble
      case JDouble(d) => d
      case other => throw new IllegalArgumentException(s"maxPerSecond: $other")
    }
    require(maxPerSecond > 0, "$throttle.maxPerSecond must be positive")
    // pacing above this rate costs more in sleep jitter than it saves
    if (maxPerSecond >= 1e6) df
    else {
      val nanosPerMsg = (1e9 / maxPerSecond).toLong
      df.mapPartitions { it =>
        var next = 0L
        it.map { r =>
          val now = System.nanoTime()
          if (next == 0L) next = now
          if (now < next) {
            val wait = next - now
            Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          }
          next = math.max(next, now) + nanosPerMsg
          r
        }
      }(org.apache.spark.sql.Encoders.row(df.schema))
    }
  }

  /** Keep one message per distinct expression value (Deduplicate.java:62-147).
    * Batch / unbounded streaming: `dropDuplicates` (state-store backed, exact,
    * replacing the reference's MongoDB seen-set). Streaming with a TTL — the
    * reference's `cacheWindow` — declares `_watermark: {column, delay}` and
    * uses `dropDuplicatesWithinWatermark`, so seen-state expires instead of
    * growing forever. */
  def deduplicate(df: DataFrame, d: Deduplicate)(implicit ctx: ExprCtx): DataFrame = {
    val keyed = df.withColumn("__dedup", cexpr(d.expression))
    val deduped = d.watermark match {
      case Some((column, delay)) if df.isStreaming =>
        keyed.withWatermark(column, delay).dropDuplicatesWithinWatermark("__dedup")
      case _ => keyed.dropDuplicates("__dedup")
    }
    deduped.drop("__dedup")
  }

  // ---- $redact ------------------------------------------------------------

  private val KEEP = "__KEEP__"
  private val PRUNE = "__PRUNE__"

  /** Field resolution against a KNOWN schema level: paths that don't exist in
    * this sub-document resolve to null (Mongo missing-field semantics) instead
    * of failing analysis. */
  private def safeField(st: StructType, base: Option[Column])(path: String): Column = {
    def walk(t: DataType, c: Column, parts: List[String]): Column = (t, parts) match {
      case (_, Nil) => c
      case (s: StructType, p :: rest) =>
        s.find(_.name == p) match {
          case Some(f) => walk(f.dataType, c.getField(p), rest)
          case None    => lit(null)
        }
      case _ => lit(null)
    }
    val parts = path.split('.').toList
    base match {
      case Some(c) => walk(st, c, parts)
      case None => // top level: first part is a column
        st.find(_.name == parts.head) match {
          case Some(f) => walk(f.dataType, col(parts.head), parts.tail)
          case None    => lit(null)
        }
    }
  }

  /** Recursive `$redact` (Redact.java:33-94): the expression is evaluated
    * against the root and every nested sub-document (including objects inside
    * arrays) with paths resolved relative to that level. `$$PRUNE` at the root
    * drops the message; on a nested object it nulls the field; inside an
    * array it removes the element. `$$KEEP` stops descending; `$$DESCEND`
    * recurses. Non-object array elements are kept. Entirely schema-driven
    * Column rebuilding — no UDF, no shuffle. */
  def redact(df: DataFrame, spec: JValue)(implicit ctx: ExprCtx): DataFrame = {
    def decision(st: StructType, base: Option[Column]): Column =
      cexpr(spec)(ctx.copy(field = safeField(st, base)))

    def rebuildStructVal(st: StructType, c: Column): Column = {
      val d = decision(st, Some(c))
      when(d === PRUNE, lit(null))
        .when(d === KEEP, c)
        .otherwise(descendInto(st, c))
    }

    def descendInto(st: StructType, c: Column): Column =
      struct(st.fields.map { f =>
        rebuildField(f.dataType, c.getField(f.name)).as(f.name)
      }.toIndexedSeq: _*)

    def rebuildField(dt: DataType, c: Column): Column = dt match {
      case sub: StructType => rebuildStructVal(sub, c)
      case ArrayType(sub: StructType, _) =>
        filter(transform(c, e => rebuildStructVal(sub, e)), e => e.isNotNull)
      case _ => c
    }

    val rootSchema = StructType(df.schema.filter(_.name != "key"))
    val rootDecision = decision(rootSchema, None)
    val kept = df.filter(rootDecision =!= PRUNE) // root prune drops the message
    val rebuilt = df.columns.map { name =>
      if (name == "key") col("key").as("key")
      else {
        val dt = df.schema(name).dataType
        when(rootDecision === KEEP, col(name))
          .otherwise(rebuildField(dt, col(name))).as(name)
      }
    }
    kept.select(rebuilt.toIndexedSeq: _*)
  }
}
