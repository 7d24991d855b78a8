package graft.mongo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._

/** Compiles the MongoDB *query language* (the `pincette-mongo`
  * `Match.predicate` surface — SURVEY.md §2.2/§2.9, used by `$match` at
  * /root/reference/src/main/java/net/pincette/mongo/streams/Match.java:26)
  * into a Catalyst boolean [[Column]], so `$match` becomes `df.filter(...)`
  * and Catalyst pushes it into the parquet scan.
  *
  * Deviations: Mongo's implicit array-element equality (`{f: 1}` matching
  * `f=[0,1]`) is only applied via explicit `$elemMatch`/`$all`; `$exists`
  * maps missing≈null (Spark has no missing-vs-null distinction).
  */
object MongoMatch {

  def compile(spec: JValue)(implicit ctx: ExprCtx = ExprCtx()): Column = spec match {
    case JObject(fields) =>
      if (fields.isEmpty) lit(true)
      else fields.map { case (k, v) => topLevel(k, v) }.reduce(_ && _)
    case other => throw new IllegalArgumentException(s"bad $$match spec: $other")
  }

  private def topLevel(key: String, v: JValue)(implicit ctx: ExprCtx): Column = key match {
    case "$and" => subSpecs(v).map(compile(_)).reduce(_ && _)
    case "$or"  => subSpecs(v).map(compile(_)).reduce(_ || _)
    case "$nor" => !subSpecs(v).map(compile(_)).reduce(_ || _)
    case "$expr" => MongoExpr.truthy(MongoExpr.compile(v))
    case "$sampleRate" => // keep each doc independently with probability p
      v match {
        case JDouble(p) => rand() < lit(p)
        case JInt(p)    => rand() < lit(p.toDouble)
        case other => throw new IllegalArgumentException(s"$$sampleRate: $other")
      }
    case "$comment" => lit(true)
    case f => fieldPredicate(ctx.field(f), v, ctx.typeOf(f))
  }

  private def subSpecs(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case other      => List(other)
  }

  private def isOpDoc(v: JValue): Boolean = v match {
    case JObject(fs) => fs.nonEmpty && fs.forall(_._1.startsWith("$"))
    case _           => false
  }

  private def fieldPredicate(c: Column, v: JValue,
      fieldType: Option[org.apache.spark.sql.types.DataType] = None)
      (implicit ctx: ExprCtx): Column =
    if (isOpDoc(v)) {
      val JObject(ops) = (v: @unchecked)
      // $options modifies the sibling $regex; it is not a predicate itself
      val opts = ops.collectFirst { case ("$options", JString(o)) => o }
      ops.collect {
        case ("$regex", operand) =>
          val flags = opts.filter(_.nonEmpty).map(o => s"(?$o)").getOrElse("")
          c.rlike(flags + str(operand))
        case (op, operand) if op != "$options" =>
          opPredicate(c, op, operand, fieldType)
      }.reduce(_ && _)
    } else (fieldType, v) match {
      // Mongo array-equality: {f: 1} matches f = [0, 1] (element containment)
      // as well as f = 1 — SURVEY §2.2, TestLookup lookup3 semantics
      case (Some(_: org.apache.spark.sql.types.ArrayType), lit_)
          if !lit_.isInstanceOf[JArray] && lit_ != JNull =>
        array_contains(c, MongoExpr.literal(lit_))
      case _ => c <=> MongoExpr.literal(v) // {f: null} matches null/missing
    }

  private def opPredicate(c: Column, op: String, v: JValue,
      fieldType: Option[org.apache.spark.sql.types.DataType])
      (implicit ctx: ExprCtx): Column = op match {
    case "$eq"  => c <=> MongoExpr.literal(v)
    case "$ne"  => !(c <=> MongoExpr.literal(v))
    case "$gt"  => c > MongoExpr.literal(v)
    case "$gte" => c >= MongoExpr.literal(v)
    case "$lt"  => c < MongoExpr.literal(v)
    case "$lte" => c <= MongoExpr.literal(v)
    case "$in" =>
      val JArray(xs) = (v: @unchecked)
      xs.map(x => c <=> MongoExpr.literal(x)).reduce(_ || _)
    case "$nin" =>
      val JArray(xs) = (v: @unchecked)
      !xs.map(x => c <=> MongoExpr.literal(x)).reduce(_ || _)
    case "$exists" =>
      v match {
        case JBool(true)  => c.isNotNull
        case JBool(false) => c.isNull
        case other        => throw new IllegalArgumentException(s"$$exists: $other")
      }
    case "$regex" => c.rlike(str(v))
    case "$not" => // matches when the inner predicate does NOT hold,
      // INCLUDING null/missing fields (a null inner result negates to true)
      !MongoExpr.truthy(fieldPredicate(c, v))
    case "$mod" =>
      val JArray(List(d, r)) = (v: @unchecked)
      c % MongoExpr.literal(d) === MongoExpr.literal(r)
    case "$size" => size(c) === MongoExpr.literal(v)
    case "$type" =>
      // schema-first: the column's STATIC type decides; "null" tests the
      // value. Accepts a name or an array of names (BSON aliases).
      import org.apache.spark.sql.types._
      val dt = fieldType.getOrElse(throw new IllegalArgumentException(
        "$type needs a schema-resolvable field (top-level column)"))
      def one(name: String): Column = name match {
        case "null" => c.isNull
        case n =>
          val matches = (n, dt) match {
            case ("string", StringType)                      => true
            case ("int", IntegerType)                        => true
            case ("long", LongType)                          => true
            case ("double", DoubleType | FloatType)          => true
            case ("decimal", _: DecimalType)                 => true
            case ("bool", BooleanType)                       => true
            case ("date", TimestampType | TimestampNTZType | DateType) => true
            case ("array", _: ArrayType)                     => true
            case ("object", _: StructType | _: MapType)      => true
            case ("number", IntegerType | LongType | DoubleType |
                            FloatType | _: DecimalType)      => true
            case _                                           => false
          }
          if (matches) c.isNotNull else lit(false)
      }
      v match {
        case JString(n)  => one(n)
        case JArray(ns)  => ns.map(n => one(str(n))).reduce(_ || _)
        case other => throw new IllegalArgumentException(s"$$type: $other")
      }
    case "$all" =>
      val JArray(xs) = (v: @unchecked)
      xs.map(x => array_contains(c, MongoExpr.literal(x))).reduce(_ && _)
    case "$elemMatch" =>
      // element is a document: predicate over its fields; or bare op-doc on scalars
      exists(c, e =>
        if (isOpDoc(v)) fieldPredicate(e, v)
        else compile(v)(ctx.copy(field = p =>
          p.split('.').foldLeft(e)(_ getField _))))
    case other => throw new IllegalArgumentException(s"unsupported match op $other")
  }

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case other      => throw new IllegalArgumentException(s"expected string: $other")
  }
}
