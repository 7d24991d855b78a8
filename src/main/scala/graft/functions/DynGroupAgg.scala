package graft.functions

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dynamic.{DynExpr, DynJson}

import scala.jdk.CollectionConverters._

/** ALL the accumulators of one dynamic-mode `$group` fused into a single
  * aggregate: the input is the message's JSON document (one string column),
  * the buffer is one slot per accumulator, and the output is the rendered
  * JSON object `{field1: v1, …}` the group stage splices after `_id`.
  *
  * Why custom (SURVEY §4): dynamic documents have no schema, so Spark's
  * typed min/max/sum cannot apply; and Mongo's `$max`/`$min` order across
  * TYPE BRACKETS (null < numbers < string < object < array < bool —
  * Group.java:287-320 via pincette-mongo `Util.compare`), which no builtin
  * ordering expresses. Fusing every accumulator into one
  * TypedImperativeAggregate keeps it ONE document parse per row and one
  * buffer, and map-side partial aggregation still applies (merge folds
  * buffers), so only accumulator states — never documents — cross the
  * shuffle. That is the 100 TB shape: shuffle bytes ∝ groups, not rows.
  *
  * Accumulator semantics (reference Group.java):
  *  - $sum ignores non-numeric values, stays integral when every input is
  *    integral (long result), else double
  *  - $avg is always double; $min/$max ignore null/missing (MongoDB
  *    documented behavior); cross-type uses the BSON bracket order
  *  - $push appends in encounter order; $addToSet dedupes on Mongo equality
  *    (1 == 1.0) keeping first-seen representation
  *  - $mergeObjects: later documents' fields win
  *  - $first/$last are encounter-order within a partition (Mongo makes the
  *    same no-total-order caveat without a preceding $sort)
  *  - $stdDevPop/$stdDevSamp: Welford/Chan parallel merge
  */
case class DynGroupAgg(
    child: Expression,
    specs: List[graft.StageSpec.Acc],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[JsonNode]] {

  import DynJson._

  /** One accumulator's compiled form: the input/output expression plus the
    * structured extras of the modern accumulators (n, percentiles, sortBy). */
  private final case class Acc(field: String, op: String, expr: DynExpr.DOp,
      n: Int, ps: List[Double], sort: List[(DynExpr.DOp, Boolean)])

  private val topOps = Set("$top", "$bottom", "$topN", "$bottomN")

  /** Per-accumulator compiled forms of the driver-validated specs
    * ([[graft.StageSpec.accumulators]]), compiled lazily on each executor. */
  @transient private lazy val accs: Array[Acc] = specs.map { a =>
    Acc(a.field, a.op, DynExpr.compile(a.input), a.n, a.ps,
      a.sortBy.map { case (f, asc) => (DynExpr.compile(org.json4s.JString("$" + f)), asc) })
  }.toArray

  /** Sort-order comparator for `$top`-family packed nodes `{s: [...], o}`:
    * each key compares in the Mongo cross-type order, direction applied. */
  private def cmpPacked(sort: List[(DynExpr.DOp, Boolean)])(
      x: JsonNode, y: JsonNode): Int = {
    var i = 0
    var it = sort
    while (it.nonEmpty) {
      val c = compare(x.get("s").get(i), y.get("s").get(i))
      if (c != 0) return if (it.head._2) c else -c
      i += 1
      it = it.tail
    }
    0
  }

  /** Insert `v` into the sorted-bounded buffer `a` (comparator `cmp`),
    * keeping at most `max` elements from the FRONT (keepFront) or BACK. */
  private def sortedInsert(a: ArrayNode, v: JsonNode, max: Int,
      keepFront: Boolean, cmp: (JsonNode, JsonNode) => Int): ArrayNode = {
    var i = 0
    while (i < a.size && cmp(a.get(i), v) <= 0) i += 1
    a.insert(i, v)
    if (a.size > max) { if (keepFront) a.remove(a.size - 1) else a.remove(0) }
    a
  }

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = StringType
  override def prettyName: String = "dyn_group_agg"

  override def createAggregationBuffer(): Array[JsonNode] =
    Array.fill(accs.length)(MISSING)

  override def update(buf: Array[JsonNode], input: InternalRow): Array[JsonNode] = {
    val v = child.eval(input)
    if (v != null) {
      val doc = parse(v.asInstanceOf[UTF8String].toString)
      val ctx = DynExpr.DCtx(doc, Map.empty)
      var i = 0
      while (i < accs.length) {
        val acc = accs(i)
        val value =
          if (!topOps(acc.op)) acc.expr.eval(ctx)
          else { // pack {s: [sort keys...], o: output} for the comparator
            val packed = obj()
            val ks = arr()
            acc.sort.foreach { case (sop, _) =>
              ks.add(DynJson.copy(missingToNull(sop.eval(ctx)))) }
            packed.set[JsonNode]("s", ks)
            packed.set[JsonNode]("o", DynJson.copy(missingToNull(acc.expr.eval(ctx))))
            packed
          }
        buf(i) = step(acc, buf(i), value)
        i += 1
      }
    }
    buf
  }

  private def step(acc: Acc, cur: JsonNode, value: JsonNode): JsonNode = acc.op match {
    case "$sum" =>
      if (!value.isNumber) { if (isMissing(cur)) long(0) else cur }
      else if (isMissing(cur)) value
      else if (cur.isIntegralNumber && value.isIntegralNumber)
        long(cur.longValue + value.longValue)
      else double(cur.doubleValue + value.doubleValue)
    case "$count" =>
      if (isMissing(cur)) long(1) else long(cur.longValue + 1)
    case "$avg" =>
      if (!value.isNumber) cur
      else {
        val (s, c) =
          if (isMissing(cur)) (0d, 0L)
          else (cur.get("s").doubleValue, cur.get("c").longValue)
        val o = obj()
        o.set[JsonNode]("s", double(s + value.doubleValue))
        o.set[JsonNode]("c", long(c + 1))
        o
      }
    case "$min" | "$max" =>
      if (value.isNull || isMissing(value)) cur
      else if (isMissing(cur)) DynJson.copy(value)
      else {
        val c = compare(value, cur)
        if ((acc.op == "$min" && c < 0) || (acc.op == "$max" && c > 0))
          DynJson.copy(value)
        else cur
      }
    case "$first" => if (isMissing(cur)) DynJson.copy(missingToNull(value)) else cur
    case "$last"  => DynJson.copy(missingToNull(value))
    case "$push" => // MISSING contributes nothing; explicit null IS pushed
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      if (!isMissing(value)) a.add(DynJson.copy(value))
      a
    case "$addToSet" =>
      // buffer = array of elements; dedupe on Mongo equality at insert.
      // MISSING contributes nothing; explicit null IS an element
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      if (!isMissing(value) && !a.asScala.exists(deepEq(_, value)))
        a.add(DynJson.copy(value))
      a
    case "$mergeObjects" =>
      val o = if (isMissing(cur)) obj() else cur.asInstanceOf[ObjectNode]
      value match {
        case ov: ObjectNode =>
          ov.fields().asScala.foreach(e => o.set[JsonNode](e.getKey, DynJson.copy(e.getValue)))
        case _ => ()
      }
      o
    case "$stdDevPop" | "$stdDevSamp" =>
      if (!value.isNumber) cur
      else {
        val (n, mean, m2) =
          if (isMissing(cur)) (0L, 0d, 0d)
          else (cur.get("n").longValue, cur.get("mean").doubleValue, cur.get("m2").doubleValue)
        val x = value.doubleValue
        val n1 = n + 1
        val d = x - mean
        val mean1 = mean + d / n1
        val o = obj()
        o.set[JsonNode]("n", long(n1))
        o.set[JsonNode]("mean", double(mean1))
        o.set[JsonNode]("m2", double(m2 + d * (x - mean1)))
        o
      }
    case "$median" | "$percentile" => // exact: collect the numeric values
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      if (value != null && value.isNumber) a.add(double(value.doubleValue))
      a
    case "$maxN" | "$minN" => // sorted-bounded buffer; nulls ignored
      if (value == null || value.isNull || isMissing(value)) {
        if (isMissing(cur)) arr() else cur
      } else {
        val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
        // keep ascending; $maxN keeps the BACK (largest), $minN the front
        sortedInsert(a, DynJson.copy(value), acc.n,
          keepFront = acc.op == "$minN", compare(_, _))
      }
    case "$firstN" =>
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      if (a.size < acc.n) a.add(DynJson.copy(missingToNull(value)))
      a
    case "$lastN" =>
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      a.add(DynJson.copy(missingToNull(value)))
      if (a.size > acc.n) a.remove(0)
      a
    case "$top" | "$bottom" | "$topN" | "$bottomN" =>
      val a = if (isMissing(cur)) arr() else cur.asInstanceOf[ArrayNode]
      // sorted in sortBy order; $top/$topN keep the front, $bottom* the back
      sortedInsert(a, value, acc.n,
        keepFront = acc.op == "$top" || acc.op == "$topN", cmpPacked(acc.sort))
  }

  override def merge(a: Array[JsonNode], b: Array[JsonNode]): Array[JsonNode] = {
    var i = 0
    while (i < accs.length) {
      a(i) = mergeOne(accs(i), a(i), b(i))
      i += 1
    }
    a
  }

  private def mergeOne(acc: Acc, x: JsonNode, y: JsonNode): JsonNode = {
    val op = acc.op
    if (isMissing(x)) y
    else if (isMissing(y)) x
    else op match {
      case "$sum" =>
        if (x.isIntegralNumber && y.isIntegralNumber) long(x.longValue + y.longValue)
        else double(x.doubleValue + y.doubleValue)
      case "$count" => long(x.longValue + y.longValue)
      case "$avg" =>
        val o = obj()
        o.set[JsonNode]("s", double(x.get("s").doubleValue + y.get("s").doubleValue))
        o.set[JsonNode]("c", long(x.get("c").longValue + y.get("c").longValue))
        o
      case "$min" => if (compare(y, x) < 0) y else x
      case "$max" => if (compare(y, x) > 0) y else x
      case "$first" => x
      case "$last"  => y
      case "$push" =>
        x.asInstanceOf[ArrayNode].addAll(y.asInstanceOf[ArrayNode]); x
      case "$addToSet" =>
        val a = x.asInstanceOf[ArrayNode]
        y.asInstanceOf[ArrayNode].asScala.foreach { v =>
          if (!a.asScala.exists(deepEq(_, v))) a.add(v)
        }
        a
      case "$mergeObjects" =>
        val o = x.asInstanceOf[ObjectNode]
        y.asInstanceOf[ObjectNode].fields().asScala
          .foreach(e => o.set[JsonNode](e.getKey, e.getValue))
        o
      case "$stdDevPop" | "$stdDevSamp" => // Chan et al. parallel variance
        val (na, ma, m2a) = (x.get("n").longValue, x.get("mean").doubleValue, x.get("m2").doubleValue)
        val (nb, mb, m2b) = (y.get("n").longValue, y.get("mean").doubleValue, y.get("m2").doubleValue)
        val n = na + nb
        val d = mb - ma
        val o = obj()
        o.set[JsonNode]("n", long(n))
        o.set[JsonNode]("mean", double(ma + d * nb / n))
        o.set[JsonNode]("m2", double(m2a + m2b + d * d * na * nb / n))
        o
      case "$median" | "$percentile" =>
        x.asInstanceOf[ArrayNode].addAll(y.asInstanceOf[ArrayNode]); x
      case "$maxN" | "$minN" =>
        val a = x.asInstanceOf[ArrayNode]
        y.asInstanceOf[ArrayNode].asScala.toList.foreach(v =>
          sortedInsert(a, v, acc.n, keepFront = op == "$minN", compare(_, _)))
        a
      case "$firstN" =>
        val a = x.asInstanceOf[ArrayNode]
        y.asInstanceOf[ArrayNode].asScala.toList.foreach { v =>
          if (a.size < acc.n) a.add(v) }
        a
      case "$lastN" =>
        val a = x.asInstanceOf[ArrayNode]
        y.asInstanceOf[ArrayNode].asScala.toList.foreach { v =>
          a.add(v); if (a.size > acc.n) a.remove(0) }
        a
      case "$top" | "$bottom" | "$topN" | "$bottomN" =>
        val a = x.asInstanceOf[ArrayNode]
        y.asInstanceOf[ArrayNode].asScala.toList.foreach(v => sortedInsert(
          a, v, acc.n, keepFront = op == "$top" || op == "$topN",
          cmpPacked(acc.sort)))
        a
    }
  }

  override def eval(buf: Array[JsonNode]): Any = {
    val out = obj()
    var i = 0
    while (i < accs.length) {
      val acc = accs(i)
      val v = finish(acc, buf(i))
      if (!isMissing(v)) out.set[JsonNode](acc.field, v)
      i += 1
    }
    UTF8String.fromString(render(out))
  }

  private def finish(acc: Acc, cur: JsonNode): JsonNode = acc.op match {
    case "$sum" | "$count" => if (isMissing(cur)) long(0) else cur
    case "$avg" =>
      if (isMissing(cur)) NULL
      else double(cur.get("s").doubleValue / cur.get("c").longValue)
    case "$min" | "$max" | "$first" | "$last" => missingToNull(cur)
    case "$push" | "$addToSet" => if (isMissing(cur)) arr() else cur
    case "$mergeObjects" => if (isMissing(cur)) obj() else cur
    case "$stdDevPop" =>
      if (isMissing(cur) || cur.get("n").longValue == 0) NULL
      else double(math.sqrt(cur.get("m2").doubleValue / cur.get("n").longValue))
    case "$stdDevSamp" =>
      if (isMissing(cur) || cur.get("n").longValue < 2) NULL
      else double(math.sqrt(cur.get("m2").doubleValue / (cur.get("n").longValue - 1)))
    case "$median" | "$percentile" =>
      // exact linear interpolation at p*(n-1), Spark `percentile` semantics
      if (isMissing(cur) || cur.size == 0) NULL
      else {
        val vs = cur.asInstanceOf[ArrayNode].asScala.map(_.doubleValue)
          .toArray.sorted
        def at(p: Double): Double = {
          val pos = p * (vs.length - 1)
          val lo = math.floor(pos).toInt
          val hi = math.ceil(pos).toInt
          vs(lo) + (pos - lo) * (vs(hi) - vs(lo))
        }
        if (acc.op == "$median") double(at(0.5))
        else {
          val a = arr()
          acc.ps.foreach(p => a.add(double(at(p))))
          a
        }
      }
    case "$maxN" => // Mongo returns the n largest DESCENDING
      if (isMissing(cur)) arr()
      else {
        val a = arr()
        cur.asInstanceOf[ArrayNode].asScala.toList.reverse.foreach(a.add)
        a
      }
    case "$minN" | "$firstN" | "$lastN" =>
      if (isMissing(cur)) arr() else cur
    case "$top" | "$bottom" =>
      if (isMissing(cur) || cur.size == 0) NULL else cur.get(0).get("o")
    case "$topN" | "$bottomN" =>
      if (isMissing(cur)) arr()
      else {
        val a = arr()
        cur.asInstanceOf[ArrayNode].asScala.foreach(e => a.add(e.get("o")))
        a
      }
  }

  /** Buffers serialize as one JSON array; each slot wraps its value in a
    * singleton array so the missing marker survives ([] = still unset). */
  override def serialize(buf: Array[JsonNode]): Array[Byte] = {
    val a = arr()
    buf.foreach { n =>
      val slot = arr()
      if (!isMissing(n)) slot.add(n)
      a.add(slot)
    }
    render(a).getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  override def deserialize(bytes: Array[Byte]): Array[JsonNode] = {
    val a = parse(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      .asInstanceOf[ArrayNode]
    (0 until a.size).map { i =>
      val slot = a.get(i).asInstanceOf[ArrayNode]
      if (slot.size == 0) MISSING else slot.get(0)
    }.toArray
  }

  override def withNewMutableAggBufferOffset(offset: Int): DynGroupAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DynGroupAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DynGroupAgg =
    copy(child = newChildren.head)
}
