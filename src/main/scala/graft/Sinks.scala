package graft

import graft.mongo.{ExprCtx, MongoExpr}
import graft.sources.DocumentStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._

/** Sink / effect stages (SURVEY.md §2.6): `$merge`, `$out`, `$delete` write to
  * a [[DocumentStore]]; `$send`, `$delay`, `$probe` hand batches to a producer
  * callback (the reference produces to Kafka — Context.java:32). Batch
  * semantics here; Structured Streaming wires the same logic via
  * `foreachBatch`. Effects run eagerly when the stage is applied; the returned
  * DataFrame is the stage's downstream echo.
  */
private[graft] object SinkStages {
  import MongoExpr.{compile => cexpr}

  /** Default cap on distinct `$delay` target topics in one batch. */
  val DefaultMaxDelayTopics = 64

  /** Parking writes ONE filtered job per distinct topic — fine for the
    * reference's semantics (topics are a configured handful), but a topic
    * EXPRESSION with high cardinality silently degrades the stage into N
    * full-scan jobs. Mirror theta-`$lookup`'s BroadcastNestedLoopJoin
    * refusal: fail loudly past the cap instead, with `_maxTopics` as the
    * explicit escape hatch. The probe reads `cap + 1` rows through a
    * pushed-down limit, so the check itself never scans all topics. */
  private[graft] def collectTopicsGuarded(topics: DataFrame, cap: Int,
      stage: String): Seq[String] = {
    // saturate so _maxTopics = Int.MaxValue doesn't overflow to a negative
    // limit (cap'ing at MaxValue just disables the over-cap detection)
    val probeN = if (cap == Int.MaxValue) cap else cap + 1
    val got = topics.distinct().limit(probeN).collect().map(_.getString(0)).toSeq
    if (got.length > cap) throw new IllegalArgumentException(
      s"$stage: more than $cap distinct target topics in one batch — " +
        "parking runs one filtered write job PER topic, so a " +
        "high-cardinality topic expression degrades to N full scans. " +
        "Raise _maxTopics if the fan-out is intended, or reduce the " +
        "topic expression's cardinality.")
    got
  }

  /** `$merge` (Merge.java:47-198): upsert into `into`, matching on the `on`
    * fields. Implemented as one full-outer join between the incoming batch and
    * the current collection; the new collection contents and the downstream
    * echo both fall out of the join row classification.
    *
    * Field-overlay (`whenMatched: "merge"`) is schema-level: a column present
    * in the incoming schema overlays the target's value (documents here are
    * typed rows, not sparse maps).
    */
  def merge(df: DataFrame, m: StageSpec.Merge, store: DocumentStore): DataFrame = {
    val StageSpec.Merge(into, on, whenMatched, matchPipeline, whenNotMatched, key) = m
    val hasKey = df.columns.contains("key")

    // `key` expression value becomes the document `_id` (Merge.java docs);
    // `matchPipeline` is the Mongo 4.4 whenMatched UPDATE PIPELINE (beyond
    // the reference's Merge.java surface) over the EXISTING doc with $$new
    // bound to the incoming doc
    val incoming0 = key.fold(df)(k => df.withColumn("_id", cexpr(k)(Stages.ctxFor(df))))
    val incoming = incoming0.drop("key")

    // The reference applies messages sequentially, so several messages with
    // the same `on` key collapse to the last write. A full-outer join would
    // instead fan out duplicate target rows — keep exactly one doc per key:
    // the one with the highest monotonically_increasing_id, i.e. the latest
    // in (partition, offset) order, approximating arrival order
    // deterministically (dropDuplicates would keep an arbitrary survivor).
    // Messages missing an `on` field fail the batch (Merge.java matchQuery);
    // the check rides the `__mid` column so it costs no extra pass — the
    // versioned store only flips its pointer on success, so the failed write
    // leaves the collection untouched.
    val badOnMsg = s"$$merge: message missing 'on' field(s) $on"
    val dedupedIncoming = {
      // last-write-wins per key via max_by on the arrival id: hash
      // aggregation with a map-side partial phase — strictly cheaper at
      // scale than the equivalent sort-based window (no per-key sort, and
      // duplicate keys collapse BEFORE the shuffle). __mid is unique, so
      // the survivor is deterministic.
      val cols = incoming.columns.toIndexedSeq
      incoming.withColumn("__mid",
          when(on.map(f => col(f).isNull).reduce(_ || _),
            raise_error(lit(badOnMsg)).cast(LongType))
            .otherwise(monotonically_increasing_id()))
        .groupBy(on.map(col): _*)
        .agg(max_by(struct(cols.map(col): _*), col("__mid")).as("__doc"))
        .select(cols.map(f => col("__doc").getField(f).as(f)): _*)
    }

    // Incremental path (bucketed store, same `on`, no new columns, same key
    // types): read and rewrite ONLY the buckets the batch touches —
    // O(batch), not O(collection). Costs one extra cheap pass over the
    // incoming batch (distinct bucket ids); at scale that is noise next to
    // not rewriting the collection. Inserts that generate a fresh `_id`
    // hash into arbitrary buckets and are APPENDED (merge-on-read) rather
    // than forcing those buckets to be read.
    val targetSchema = store.read(into).schema
    val iColsPre = incoming.columns.toSeq
    val sameKeyTypes = on.forall(f =>
      targetSchema.find(_.name == f).map(_.dataType) ==
        incoming.schema.find(_.name == f).map(_.dataType))
    val bucketedN = store.bucketing(into, on)
      .filter(_ => iColsPre.forall(targetSchema.fieldNames.contains) && sameKeyTypes)
    val touched: Seq[Int] = bucketedN match {
      case Some(n) =>
        incoming.select(
            graft.sources.DocumentStore.bucketColumn(on, n).as("__b"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
      case None => Nil
    }

    val target =
      if (bucketedN.isDefined) store.readBuckets(into, touched) else store.read(into)
    val iCols = dedupedIncoming.columns.toSeq
    val tCols = target.columns.toSeq
    val allCols = (tCols ++ iCols.filterNot(tCols.contains)).toIndexedSeq

    val t = target.select(struct(tCols.map(col): _*).as("__t"))
    val i = dedupedIncoming.select(struct(iCols.map(col): _*).as("__i"))
    val cond = on.map(f => col("__t").getField(f) <=> col("__i").getField(f))
      .reduce(_ && _)
    val j = t.join(i, cond, "full_outer")

    def tf(f: String): Column =
      if (tCols.contains(f)) col("__t").getField(f) else lit(null)
    def tfType(f: String): DataType =
      target.schema.find(_.name == f).map(_.dataType)
        .getOrElse(incoming.schema(f).dataType)
    // incoming value, coerced to the target column's type (an object-valued
    // `key` _id lands in a string-typed _id column as its stringification)
    def inf(f: String): Column =
      if (!iCols.contains(f)) lit(null)
      else if (tCols.contains(f) && incoming.schema(f).dataType != tfType(f))
        col("__i").getField(f).cast(tfType(f))
      else col("__i").getField(f)
    // insert generates a UUID _id when the message has none (Merge.java)
    def insertDoc(f: String): Column =
      if (f == "_id") coalesce(inf(f), expr("uuid()").cast(tfType(f)))
      else inf(f)

    val matched = col("__t").isNotNull && col("__i").isNotNull
    val insertOnly = col("__t").isNull && col("__i").isNotNull

    // whenMatched UPDATE PIPELINE: fold the stages over an ordered
    // field → Column environment seeded with the target doc; every stage's
    // expressions evaluate against the PRE-stage env (Mongo's rule), with
    // $$new bound to the incoming doc and $$ROOT to the current env. The
    // env's schema is tracked alongside so date-typed arithmetic keeps
    // resolving until a field is overwritten by a computed value.
    val pipelineEnv: Option[Seq[(String, Column)]] = matchPipeline.map { stages =>
      val newStruct = struct(
        iCols.map(f => col("__i").getField(f).as(f)).toIndexedSeq: _*)
      var env = scala.collection.immutable.ListMap[String, Column](
        tCols.map(f => f -> tf(f)): _*)
      var envSchema = StructType(target.schema.fields)
      def dropType(f: String): Unit =
        envSchema = StructType(envSchema.fields.filterNot(_.name == f))
      def stageCtx: ExprCtx = ExprCtx(
        field = p => {
          val segs = p.split('.')
          env.get(segs.head) match {
            case Some(c) => segs.tail.foldLeft(c)(_.getField(_))
            case None    => MongoExpr.MissingRef
          }
        },
        vars = Map(
          "ROOT" -> struct(env.toSeq.map { case (f, c) => c.as(f) }: _*),
          "new"  -> newStruct),
        typeOf = p => Stages.resolveType(envSchema, p))
      def replace(v: JValue): Unit = v match {
        case JString("$$new") =>
          env = scala.collection.immutable.ListMap(
            iCols.map(f => f -> col("__i").getField(f)): _*)
          envSchema = StructType(incoming.schema.filter(f => iCols.contains(f.name)))
        case JObject(fields) =>
          val ctx0 = stageCtx
          env = scala.collection.immutable.ListMap(
            fields.map { case (f, x) => f -> cexpr(x)(ctx0) }: _*)
          envSchema = StructType(Nil)
        case other => throw new IllegalArgumentException(
          s"$$merge whenMatched $$replaceRoot/$$replaceWith: $other")
      }
      stages.foreach {
        case ("$set" | "$addFields", JObject(fields)) =>
          val ctx0 = stageCtx
          fields.foreach { case (f, v) =>
            env = env + (f -> cexpr(v)(ctx0)); dropType(f)
          }
        case ("$unset", uspec) =>
          val fs = uspec match {
            case JString(f) => Seq(f)
            case JArray(xs) => xs.map {
              case JString(f) => f
              case other => throw new IllegalArgumentException(s"$$unset: $other")
            }
            case other => throw new IllegalArgumentException(s"$$unset: $other")
          }
          fs.foreach { f => env = env - f; dropType(f) }
        case ("$project", JObject(fields)) =>
          val ctx0 = stageCtx
          def falsy(v: JValue) = v == JInt(0) || v == JBool(false)
          val nonId = fields.filterNot(_._1 == "_id")
          if (nonId.nonEmpty && nonId.forall(e => falsy(e._2))) {
            // exclusion mode: drop the listed fields (incl. an explicit _id: 0)
            fields.filter(e => falsy(e._2)).foreach { case (f, _) =>
              env = env - f; dropType(f)
            }
          } else {
            // inclusion mode: _id rides along unless excluded
            val kept = scala.collection.mutable.LinkedHashMap[String, Column]()
            if (!fields.exists(e => e._1 == "_id" && falsy(e._2)))
              env.get("_id").foreach(kept("_id") = _)
            fields.foreach {
              case (_, v) if falsy(v)                => ()
              case (f, JInt(n)) if n == 1            => env.get(f).foreach(kept(f) = _)
              case (f, JBool(true))                  => env.get(f).foreach(kept(f) = _)
              case (f, v)                            => kept(f) = cexpr(v)(ctx0); dropType(f)
            }
            val keptSet = kept.keySet
            envSchema = StructType(envSchema.fields.filter(x => keptSet(x.name)))
            env = scala.collection.immutable.ListMap(kept.toSeq: _*)
          }
        case ("$replaceRoot", rspec) => replace(rspec \ "newRoot")
        case ("$replaceWith", rspec) => replace(rspec)
        case (other, sp) => throw new IllegalArgumentException(
          s"$$merge whenMatched $other: expected an object, got $sp")
      }
      env.toSeq
    }
    val pipelineFields: Seq[String] = pipelineEnv.fold(Seq.empty[String])(_.map(_._1))
    val pipelineMap: Map[String, Column] = pipelineEnv.fold(Map.empty[String, Column])(_.toMap)

    def resultFor(f: String): Column = {
      val onMatch =
        if (matchPipeline.isDefined)
          // pipeline output: absent fields are MISSING -> null in typed rows
          pipelineMap.getOrElse(f, lit(null))
        else whenMatched match {
        case "merge"        => if (iCols.contains(f)) inf(f) else tf(f)
        case "replace"      => inf(f)
        case "keepExisting" => tf(f)
        case _ /* fail */ => raise_error(lit("$merge: whenMatched=fail and a match occurred"))
      }
      val onInsert = whenNotMatched match {
        case "insert"  => insertDoc(f)
        case "discard" => lit(null) // row filtered out below
        case _ /* fail */ => raise_error(lit("$merge: whenNotMatched=fail and no match"))
      }
      when(matched, onMatch).when(insertOnly, onInsert).otherwise(tf(f)).as(f)
    }

    val discardInsert = whenNotMatched == "discard"
    // the missing-on-field raise_error can fire wherever the plan first
    // evaluates — optimizer constant folding on the driver (persist eagerly
    // optimizes), or inside the write job — so both eager calls translate it
    def translating[A](f: => A): A =
      try f
      catch {
        case e: Throwable =>
          val causes = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
          if (causes.exists(c => Option(c.getMessage).exists(_.contains(badOnMsg))))
            throw new IllegalStateException(badOnMsg)
          else throw e
      }
    // persisted: the join feeds BOTH the new collection write (eager, below)
    // and the downstream echo (lazy) — without this the full-outer join and
    // the arrival-order window run twice
    val outCols = allCols ++ pipelineFields.filterNot(allCols.contains)
    val resolved = translating(j.select((Seq(col("__t"), col("__i")) ++
      outCols.map(resultFor)): _*)
      .withColumn("__written",
        matched || (insertOnly && lit(!discardInsert)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // new collection contents: everything except discarded inserts
    val newTarget = resolved
      .filter(col("__t").isNotNull || !lit(discardInsert))
      .filter(col("__t").isNotNull || col("__written"))
      .select(outCols.map(col): _*)
    bucketedN match {
      case Some(n) =>
        // bucket from the RESOLVED key values (covers generated insert _ids;
        // resolved is persisted, so uuid() is pinned before bucketing)
        translating(store.replaceBuckets(into, touched,
          newTarget.withColumn("__bucket",
            graft.sources.DocumentStore.bucketColumn(on, n))))
      case None =>
        translating(store.overwrite(into, newTarget))
    }

    // downstream echo: written/kept docs for each incoming message, with the
    // incoming _id restored, re-keyed by _id (Merge.java:142-179)
    val echoCols = outCols.map {
      case "_id" if iCols.contains("_id") =>
        coalesce(inf("_id"), col("_id")).as("_id")
      case f => col(f)
    }
    val echoed = resolved.filter(col("__i").isNotNull && col("__written"))
      .select(echoCols: _*)
    if (hasKey && echoed.columns.contains("_id"))
      echoed.withColumn("key", col("_id").cast(StringType))
    else echoed
  }

  /** `$delete` (Delete.java:33-71): delete docs in `from` whose `on` fields
    * equal the message's; messages lacking the fields are dropped, others pass
    * through. */
  def delete(df: DataFrame, d: StageSpec.Delete, store: DocumentStore): DataFrame = {
    val StageSpec.Delete(from, on) = d
    val valid = df.filter(on.map(f => col(f).isNotNull).reduce(_ && _))
    val keys = valid.select(on.map(col): _*).distinct()
    val targetSchema = store.read(from).schema
    val sameKeyTypes = on.forall(f =>
      targetSchema.find(_.name == f).map(_.dataType) ==
        df.schema.find(_.name == f).map(_.dataType))
    store.bucketing(from, on).filter(_ => sameKeyTypes) match {
      case Some(n) =>
        // rewrite only the buckets holding deleted keys
        val touched = keys.select(
            graft.sources.DocumentStore.bucketColumn(on, n).as("__b"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
        val target = store.readBuckets(from, touched)
        val cond = on.map(f => target(f) <=> keys(f)).reduce(_ && _)
        store.replaceBuckets(from, touched,
          target.join(keys, cond, "left_anti").withColumn("__bucket",
            graft.sources.DocumentStore.bucketColumn(on, n)))
      case None =>
        val target = store.read(from)
        val cond = on.map(f => target(f) <=> keys(f)).reduce(_ && _)
        store.overwrite(from, target.join(keys, cond, "left_anti"))
    }
    valid
  }

  /** `$send` (Send.java:36-68): produce to the topic named by the expression;
    * sent messages leave the stream; a non-string topic result passes the
    * message through unsent. */
  def send(df: DataFrame, s: StageSpec.Send, producer: DataFrame => Unit)
      (implicit ctx: ExprCtx): DataFrame = {
    val topicCol = cexpr(s.topic)
    val typed = df.withColumn("__topic", topicCol)
    val isString = typed.schema("__topic").dataType == StringType
    if (!isString) df // non-string topic -> everything passes through
    else {
      producer(typed.filter(col("__topic").isNotNull))
      typed.filter(col("__topic").isNull).drop("__topic")
    }
  }

  /** `$delay` (Delay.java:32-77): the retry-topic pattern. Valid messages
    * (long duration, string topic) are stamped `__deliverAt = clock +
    * duration ms`, handed to the producer AND parked in the store collection
    * `__delay__<topic>`; they leave the stream. Invalid messages pass
    * through. [[redeliverDue]] is the second half of the loop: each batch
    * (or micro-batch, via foreachBatch) re-emits parked messages whose
    * deliverAt has passed.
    *
    * `_clock` (extension): an expression giving the scheduling time,
    * defaulting to the wall clock — an event-time column makes the stage
    * deterministic and oracle-checkable.
    */
  def delay(df: DataFrame, d: StageSpec.Delay, producer: DataFrame => Unit,
      store: DocumentStore)(implicit ctx: ExprCtx): DataFrame = {
    val duration = cexpr(d.duration).cast(LongType)
    val topic = cexpr(d.topic)
    val clock = clockExpr(df, d.clock)
    val typed = df.withColumn("__topic", topic).withColumn("__durationMs", duration)
    if (typed.schema("__topic").dataType != StringType) df
    else {
      val valid = col("__topic").isNotNull && col("__durationMs").isNotNull
      val scheduled = typed.filter(valid).withColumn("__deliverAt",
        timestamp_millis(unix_millis(clock) + col("__durationMs")))
        .drop("__durationMs")
      // persist ONCE and run the topic-cardinality guard BEFORE producing:
      // a guard trip after the produce would mean messages were emitted but
      // never parked, and a batch retry would re-produce duplicates
      val parked = scheduled.persist()
      try {
        val topics = collectTopicsGuarded(parked.select("__topic"), d.maxTopics, "$delay")
        producer(parked)
        // park per target topic so redelivery preserves the topic routing
        topics.foreach { t =>
          val coll = s"__delay__$t"
          val batch = parked.filter(col("__topic") === t).drop("__topic")
          val merged =
            try store.read(coll).unionByName(batch, allowMissingColumns = true)
            catch { case _: Exception => batch } // first schedule for this topic
          store.overwrite(coll, merged)
        }
      } finally parked.unpersist()
      typed.filter(!valid).drop("__topic", "__durationMs")
    }
  }

  /** `_clock` extension shared by `$delay`/`$probe`: the scheduling /
    * event time, defaulting to the wall clock. A NUMERIC expression is
    * EPOCH MILLIS (the dynamic engine's contract — a bare long→timestamp
    * cast would silently read it as seconds, the round-11 producer-fuzz
    * find); a timestamp/date/string expression casts as a timestamp.
    *
    * BREAKING (r11, documented in README): before r11 the typed engine read
    * numeric `_clock` as epoch SECONDS via the timestamp cast. A magnitude
    * guard can't recover the old form — small epoch-millis values (minutes
    * after epoch) are legitimate deterministic-test clocks — so callers
    * holding seconds must multiply by 1000 themselves. */
  private def clockExpr(df: DataFrame, clock: Option[JValue])
      (implicit ctx: ExprCtx): Column = clock match {
    case None => current_timestamp()
    case Some(c) =>
      val col0 = cexpr(c)
      df.select(col0).schema.head.dataType match {
        case _: NumericType => timestamp_millis(col0.cast(LongType))
        case _              => col0.cast(TimestampType)
      }
  }

  /** Redelivery pass (Delay.java:40-52's delayed produce, batch form): pop
    * and return the parked messages of `topic` that are due at `now`; the
    * rest stay parked. In streaming this runs once per micro-batch. */
  def redeliverDue(store: DocumentStore, topic: String, now: Column): DataFrame = {
    val coll = s"__delay__$topic"
    val all = store.read(coll).persist()
    val due = all.filter(col("__deliverAt") <= now)
    store.overwrite(coll, all.filter(col("__deliverAt") > now))
    val out = due.drop("__deliverAt")
    all.unpersist()
    out
  }

  /** `$probe` (Probe.java:29-84): per-minute message counts
    * `{name, minute, count}` emitted to a topic; messages pass through
    * unchanged. The reference emits a minute's count when the NEXT minute's
    * first message arrives, so the final (still-running) minute is never
    * emitted; the batch equivalent emits every COMPLETE minute — all but
    * the batch's last. `_clock` (extension): count by an event-time
    * expression instead of the wall clock, making the stage deterministic
    * (with the wall-clock default a batch spans one minute and emits
    * nothing, exactly like the reference inside a single minute). */
  def probe(df: DataFrame, p: StageSpec.Probe, producer: DataFrame => Unit)
      (implicit ctx: ExprCtx): DataFrame = {
    val StageSpec.Probe(name, topic, clockSpec) = p
    val clock = clockExpr(df, clockSpec)
    val counted = df.groupBy(date_trunc("minute", clock).as("minute"))
      .agg(count(lit(1)).as("count"))
    val lastMinute = counted.agg(max("minute").as("__last"))
    producer(counted.crossJoin(broadcast(lastMinute))
      .filter(col("minute") < col("__last"))
      .withColumn("name", lit(name))
      .withColumn("__topic", lit(topic))
      .select("__topic", "name", "minute", "count"))
    df
  }

  /** `$per` (Per.java:27-49): batch `amount` messages into one
    * `{as: [docs]}` message, key = random UUID. Batching is per input
    * partition (the reference batches per pipeline instance, i.e. per Kafka
    * partition — Pipeline.java:140-145), grouped with NO extra sort:
    * `monotonically_increasing_id` already encodes (partition, offset).
    * The reference's TIMEOUT flush has no meaning on a bounded batch (there
    * is no "later"); on a stream use
    * [[graft.streaming.StreamingPer.per]], whose processing-time timer
    * flushes partial batches after `timeout` ms. */
  def per(df: DataFrame, p: StageSpec.Per): DataFrame = {
    val StageSpec.Per(amount, as) = p
    val docCols = df.columns.filter(_ != "key")
    val withId = df.withColumn("__mid", monotonically_increasing_id())
    // id = partitionId << 33 | offset -> (partition, offset/amount) buckets
    val bucket = struct(
      shiftright(col("__mid"), 33).as("p"),
      floor(col("__mid").bitwiseAND((1L << 33) - 1) / amount).as("b"))
    val grouped = withId
      .groupBy(bucket.as("__bucket"))
      .agg(collect_list(struct(docCols.map(col).toIndexedSeq: _*)).as(as))
      .select((expr("uuid()").as("key") +: Seq(col(as))): _*)
    if (df.columns.contains("key")) grouped else grouped.drop("key")
  }
}
