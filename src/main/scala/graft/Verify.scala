package graft
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * IEEE -0.0 canonicalization (round-10/11 lesson): Spark's `round` goes
  * through BigDecimal and emits +0.0 where DuckDB's `round` preserves -0.0,
  * and the driver's hash distinguishes the two. Rather than guarding each of
  * the ~200 `round(` oracle sites by hand, BOTH sides are canonicalized here:
  * every float/double output column (scalar or array element) is normalized
  * -0.0 → +0.0 before the parquet write, and the dumped oracle SQL is wrapped
  * in a `SELECT * REPLACE (col + 0 AS col)` projection derived from the same
  * schema (DuckDB: -0.0 + 0 = +0.0; FLOAT + INTEGER stays FLOAT). The two
  * values are numerically equal, so this changes no query semantics — it only
  * pins one canonical representation of zero on both engines.
  */
object Verify {
  import org.apache.spark.sql.Column

  private[graft] def containsFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType   => true
    case s: StructType            => s.fields.exists(f => containsFloat(f.dataType))
    case ArrayType(et, _)         => containsFloat(et)
    case MapType(k, v, _)         => containsFloat(k) || containsFloat(v)
    case u: UserDefinedType[_]    => containsFloat(u.sqlType)
    case _                        => false
  }

  /** Canonicalize -0.0 → +0.0 at ANY nesting depth (scalar, array, struct,
    * map — recursively). Round-11 handled only top-level scalars/arrays and
    * WARNed on nested floats; round-12 makes the rewrite total, and an
    * unknown float-bearing type (e.g. a UDT) is a hard error rather than a
    * silent ship. */
  private def normExpr(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      F.when(c === F.lit(0), F.lit(0d).cast(dt)).otherwise(c)
    case ArrayType(et, _) if containsFloat(et) =>
      F.transform(c, x => normExpr(x, et))
    case st: StructType if containsFloat(st) =>
      val rebuilt = F.struct(st.fields.map(f =>
        normExpr(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
      F.when(c.isNull, F.lit(null).cast(st)).otherwise(rebuilt)
    case MapType(kt, vt, vn) if containsFloat(kt) || containsFloat(vt) =>
      val rebuilt = F.map_from_arrays(
        F.transform(F.map_keys(c), k => normExpr(k, kt)),
        F.transform(F.map_values(c), v => normExpr(v, vt)))
      F.when(c.isNull, F.lit(null).cast(MapType(kt, vt, vn))).otherwise(rebuilt)
    case other if containsFloat(other) =>
      throw new IllegalStateException(
        s"normNegZero: no -0.0 rewrite for float-bearing type ${other.simpleString}")
    case _ => c
  }

  /** -0.0 → +0.0 on every float/double anywhere in the schema. */
  def normNegZero(df: DataFrame): DataFrame = {
    def bq(n: String) = "`" + n.replace("`", "``") + "`"
    val cols = df.schema.fields.map { f =>
      normExpr(F.col(bq(f.name)), f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** DuckDB-side mirror of [[normExpr]]: an expression string computing the
    * canonicalized value of `expr` (of Spark type `dt`). `x + 0` clears the
    * sign of zero (FLOAT + INTEGER stays FLOAT in DuckDB); structs are
    * rebuilt with struct_pack, maps via map(keys, values). */
  private def duckNorm(expr: String, dt: DataType): String = dt match {
    case DoubleType | FloatType => s"($expr + 0)"
    case ArrayType(et, _) if containsFloat(et) =>
      s"list_transform($expr, __x -> ${duckNorm("__x", et)})"
    case st: StructType if containsFloat(st) =>
      def dq(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
      val packed = st.fields.map { f =>
        s"${dq(f.name)} := ${duckNorm(s"($expr).${dq(f.name)}", f.dataType)}"
      }.mkString(", ")
      s"(CASE WHEN $expr IS NULL THEN NULL ELSE struct_pack($packed) END)"
    case MapType(kt, vt, _) if containsFloat(kt) || containsFloat(vt) =>
      val ks = s"list_transform(map_keys($expr), __k -> ${duckNorm("__k", kt)})"
      val vs = s"list_transform(map_values($expr), __v -> ${duckNorm("__v", vt)})"
      s"(CASE WHEN $expr IS NULL THEN NULL ELSE map($ks, $vs) END)"
    case other if containsFloat(other) =>
      throw new IllegalStateException(
        s"wrapOracle: no -0.0 rewrite for float-bearing type ${other.simpleString}")
    case _ => expr
  }

  /** Wrap oracle SQL so DuckDB emits the same canonical +0.0 as the Spark
    * side — `* REPLACE` keeps names/types; rewrites recurse into nested
    * arrays/structs/maps exactly as [[normNegZero]] does. */
  def wrapOracle(sql: String, schema: StructType): String = {
    def dq(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
    val repls = schema.fields.flatMap { f =>
      if (containsFloat(f.dataType))
        Some(s"${duckNorm(dq(f.name), f.dataType)} AS ${dq(f.name)}")
      else None
    }
    if (repls.isEmpty) sql
    else s"SELECT * REPLACE (${repls.mkString(", ")}) FROM ($sql) __graft_negz"
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-only nested fixtures go to a SIBLING directory, not a subdir:
    // the round-13 driver enumerated outDir/* and treated the former
    // __local/ subdir itself as a pseudo-query (pandas crash on its nested
    // parquet). A sibling <outDir>.local/ is invisible to any enumeration
    // of outDir, glob or listdir alike.
    val localOut = outDir.replaceAll("/+$", "") + ".local"
    // Fail fast on a malformed SPARK_GRAFT_DUMP_PARTS: parsed lazily inside
    // the per-query try it would make every query "fail" with an
    // unrelated-looking NumberFormatException and dump nothing (ADVICE r13).
    val dumpParts: Option[Int] = sys.env.get("SPARK_GRAFT_DUMP_PARTS").map { s =>
      val n = try s.trim.toInt catch { case _: NumberFormatException =>
        System.err.println(s"[verify] SPARK_GRAFT_DUMP_PARTS must be a positive integer, got '$s'")
        sys.exit(2)
      }
      if (n <= 0) {
        System.err.println(s"[verify] SPARK_GRAFT_DUMP_PARTS must be positive, got $n")
        sys.exit(2)
      }
      n
    }
    // Dev-only subset run: SPARK_GRAFT_ONLY=q_a,q_b (driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val schemas = scala.collection.mutable.Map.empty[String, StructType]
    def runAll(qs: Map[String, (SparkSession, String) => DataFrame],
               base: String): Unit = qs
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        // normNegZero/wrapOracle now recurse through every nesting level and
        // THROW on a float-bearing type they can't rewrite — a nested-float
        // query can no longer ship uncanonicalized (round-12; was a WARN).
        val df = normNegZero(fn(spark, sfDir))
        schemas(name) = df.schema
        // coalesce(1) is a NARROW dependency: it collapses the entire
        // upstream plan into one task, so a quadratic pair join feeding the
        // dump runs single-core (llm_ngram_jaccard ground 50+ min at the
        // 100x replica). The driver contract wants one file per query, so
        // the default stays; big-SF sweeps set SPARK_GRAFT_DUMP_PARTS to
        // write N files through a real shuffle (upstream stays parallel —
        // tools/check_oracle.py globs all part files).
        val sink = dumpParts match {
          case Some(n) => df.repartition(n)
          case None    => df.coalesce(1)
        }
        sink.write.mode("overwrite").parquet(s"$base/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    runAll(SparkEntry.queries, outDir)
    // nested-schema fixtures: dumped to the sibling <outDir>.local/ so the
    // driver can never load them — its pandas comparator crashes sorting
    // nested struct/array cells (CORRECTNESS_r12/r13 find); checked only by
    // tools/check_oracle.py against localOracleSql
    runAll(SparkEntry.localQueries, localOut)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def dump(oracles: Map[String, String], path: String): Unit = {
      val json = oracles
        .map { case (k, v) =>
          val sql = schemas.get(k).map(wrapOracle(v, _)).getOrElse(v)
          s"${q(k)}: ${q(sql)}"
        }.mkString("{", ",", "}")
      Files.writeString(Paths.get(path), json)
    }
    dump(SparkEntry.oracleSql, s"$outDir/oracle_sql.json")
    // nested-schema fixtures: strict compare runs only in the local gate
    // (the driver's row-sort on struct/array columns is undefined); the
    // SQL lives with the fixture dumps in the driver-invisible sibling dir
    if (SparkEntry.localOracleSql.nonEmpty) {
      new java.io.File(localOut).mkdirs()
      dump(SparkEntry.localOracleSql, s"$localOut/local_oracle_sql.json")
    }
    spark.stop()
  }
}
