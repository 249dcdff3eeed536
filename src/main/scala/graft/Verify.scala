package graft
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, MapType, StructType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The driver's comparator hashes pandas reprs after a column sort;
    * three type families break it and are therefore BANNED from query
    * outputs (CLAUDE.md determinism policy):
    *  - DecimalType: Spark parquet → `decimal.Decimal` objects while
    *    DuckDB `fetchdf` → float64, so equal values hash differently
    *    (the r5 q_ivm_agg red row). Cast to DOUBLE (exact < 2^53
    *    unscaled) or serialize as a string.
    *  - Array/Map cells: pandas sort crashes on them — serialize
    *    comma-joined.
    * Throws with the offending query+column so a new query fails at
    * Verify time, not as an opaque driver hash-mismatch. */
  def assertComparatorSafe(name: String, schema: StructType): Unit = {
    def bad(dt: DataType): Option[String] = dt match {
      case _: DecimalType => Some("DecimalType")
      case _: ArrayType   => Some("ArrayType")
      case _: MapType     => Some("MapType")
      case s: StructType  => s.fields.iterator.flatMap(f => bad(f.dataType)).nextOption()
      case _              => None
    }
    schema.fields.foreach { f =>
      bad(f.dataType).foreach { kind =>
        throw new IllegalStateException(
          s"query $name output column '${f.name}' is $kind (${f.dataType.sql}) — " +
            "the driver comparator cannot hash it stably; cast to DOUBLE/STRING " +
            "or serialize the collection (see Verify.assertComparatorSafe)")
      }
    }
  }

  /** `graft.Verify <sfDir> <outDir> [lane-prefix ...]`: with prefixes,
    * only the matching lanes are dumped; oracle_sql.json is always full. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val lanes = SparkEntry.lanes(args.drop(2).toSeq)
    val spark = SparkEntry.session(SparkEntry.envCpus)
    new java.io.File(outDir).mkdirs()
    lanes.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertComparatorSafe(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release anything the query pinned (QueryDef returns a lazy
      // DataFrame, so queries can't unpersist their own caches)
      spark.catalog.clearCache()
    }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
