package graft.streaming

import graft.Stages
import graft.mongo.MongoExpr
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.json4s._

/** EXACT per-message `$group` emission for streams.
  *
  * The reference emits the full running aggregate after EVERY input message
  * whose group changed (Group.java:178-180, TestGroup asserts 4 outputs for 4
  * inputs). Spark's update-mode streaming aggregation only emits per
  * micro-batch; this operator reproduces the per-message behavior with
  * `flatMapGroupsWithState`: accumulator *inputs* are still compiled to
  * Catalyst columns and evaluated by codegen BEFORE the shuffle — the state
  * function only folds pre-computed scalars, one emission per input row,
  * suppressed when the aggregate didn't change.
  *
  * Works on batch and streaming frames. Supported accumulators: $sum $avg
  * $count $max $min $push $addToSet $last $stdDevPop.
  */
object ContinuousGroup {

  private type AccState = Map[String, Any]

  private final case class Acc(name: String, op: String, outType: DataType)

  def apply(df: DataFrame, g: graft.StageSpec.Group): DataFrame = {
    implicit val ctx: graft.mongo.ExprCtx = Stages.ctxFor(df)
    val idSpec = g.id
    val accSpecs = g.accs.map(a => (a.field, a.op, a.input))

    val ALL = "\u0000__ALL__" // sentinel that can't collide with a real key
    val keyCol = idSpec match {
      case JNull | JBool(_) | JInt(_) | JLong(_) | JDouble(_) => lit(ALL)
      case JString(s) if !s.startsWith("$")                   => lit(ALL)
      case e => MongoExpr.compile(e).cast(StringType)
    }
    val inputCols = accSpecs.map { case (name, op, s) =>
      (if (op == "$count") lit(1L) else MongoExpr.compile(s)).as(name)
    }
    val prepared = df.select(keyCol.as("__k"), struct(inputCols: _*).as("__in"))
    val inTypes = prepared.schema("__in").dataType.asInstanceOf[StructType]

    val accs = accSpecs.map { case (name, op, _) =>
      val inT = inTypes(name).dataType
      def fractional(t: DataType): Boolean = t match {
        case FloatType | DoubleType | _: DecimalType => true
        case _                                       => false
      }
      val outT = op match {
        case "$avg" | "$stdDevPop"  => DoubleType
        case "$count"               => LongType
        // any fractional input sums as Double (fold produces num(v): Double);
        // integral inputs keep exact Long arithmetic
        case "$sum"                 => if (fractional(inT)) DoubleType else LongType
        case "$push" | "$addToSet"  => ArrayType(inT)
        case _                      => inT
      }
      Acc(name, op, outT)
    }
    val outSchema = StructType(
      StructField("_id", StringType) +: accs.map(a => StructField(a.name, a.outType)))

    implicit val stateEnc: Encoder[AccState] = Encoders.kryo[AccState]
    implicit val rowEnc: Encoder[Row] = ExpressionEncoder(outSchema)
    implicit val tupleEnc: Encoder[(String, Row)] =
      Encoders.tuple(Encoders.STRING, ExpressionEncoder(inTypes))

    prepared
      .select(col("__k"), col("__in"))
      .as[(String, Row)]
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[AccState, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Row)], state: GroupState[AccState]) =>
          var st = state.getOption.getOrElse(Map.empty[String, Any])
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.foreach { case (_, in) =>
            val next = accs.foldLeft(st) { (acc, a) =>
              val v = in.getAs[Any](a.name)
              acc.updated(a.name, fold(a.op, acc.get(a.name), v))
            }
            if (next != st) { // emit only when the aggregate changed (Group.java:178-180)
              st = next
              out += Row.fromSeq(
                (if (key == ALL) null else key) +: accs.map(a => finish(a, st.get(a.name))))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  private def num(v: Any): Double = v.asInstanceOf[Number].doubleValue()
  private def isLongish(v: Any): Boolean = v.isInstanceOf[java.lang.Long] ||
    v.isInstanceOf[java.lang.Integer] || v.isInstanceOf[java.lang.Short] ||
    v.isInstanceOf[java.lang.Byte]

  /** Fold one input value into one accumulator's state. Nulls are ignored by
    * every accumulator except $last (Group.java per-accumulator behavior). */
  private def fold(op: String, state: Option[Any], v: Any): Any = op match {
    case "$count" => state.map(_.asInstanceOf[Long] + 1L).getOrElse(1L)
    case "$sum" =>
      if (v == null || !v.isInstanceOf[Number]) state.getOrElse(0L)
      else state match {
        case Some(s: java.lang.Long) if isLongish(v) =>
          s + v.asInstanceOf[Number].longValue()
        case Some(s) => num(s) + num(v)
        case None => if (isLongish(v)) v.asInstanceOf[Number].longValue() else num(v)
      }
    case "$avg" =>
      if (v == null || !v.isInstanceOf[Number]) state.getOrElse(null)
      else state match {
        case Some((n: Long, t: Double)) => (n + 1L, t + num(v))
        case _                          => (1L, num(v))
      }
    case "$max" =>
      if (v == null) state.orNull
      else state.filter(s => compareAny(s, v) >= 0).getOrElse(v)
    case "$min" =>
      if (v == null) state.orNull
      else state.filter(s => compareAny(s, v) <= 0).getOrElse(v)
    case "$push" =>
      if (v == null) state.getOrElse(Vector.empty[Any])
      else state.map(_.asInstanceOf[Vector[Any]] :+ v).getOrElse(Vector(v))
    case "$addToSet" =>
      if (v == null) state.getOrElse(Vector.empty[Any])
      else {
        val cur = state.map(_.asInstanceOf[Vector[Any]]).getOrElse(Vector.empty)
        if (cur.contains(v)) cur else cur :+ v
      }
    case "$last" => v
    case "$stdDevPop" =>
      if (v == null || !v.isInstanceOf[Number]) state.getOrElse(null)
      else state match {
        case Some((n: Long, s1: Double, s2: Double)) =>
          (n + 1L, s1 + num(v), s2 + num(v) * num(v))
        case _ => (1L, num(v), num(v) * num(v))
      }
    case other => throw new IllegalArgumentException(
      s"unsupported continuous accumulator $other")
  }

  /** Cross-type numeric compare, same-type Comparable compare (timestamps,
    * dates, booleans, strings); genuinely incomparable mixed-type pairs keep
    * the accumulated value (0), mirroring Mongo's keep-first on type ties. */
  private def compareAny(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** Final value from accumulator state (the selector — Group.java:121-122). */
  private def finish(a: Acc, state: Option[Any]): Any = (a.op, state) match {
    case (_, None) => null
    case ("$avg", Some((n: Long, t: Double))) => t / n
    case ("$stdDevPop", Some((n: Long, s1: Double, s2: Double))) =>
      math.sqrt(n * s2 - s1 * s1) / n
    case ("$push" | "$addToSet", Some(v: Vector[_])) =>
      if (a.op == "$addToSet") v.sortBy(x => sortKey(x)) else v
    case (_, Some(v)) => v
  }

  private def sortKey(v: Any): String = v match {
    case n: Number => f"${n.doubleValue()}%020.6f"
    case s         => String.valueOf(s)
  }
}
