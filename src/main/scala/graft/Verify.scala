package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration only — the driver always passes two args = full run)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    var complexTyped = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Harness contract: the driver compares results with pandas
        // sort_values, which throws `unhashable type: numpy.ndarray`
        // on array/map/struct cells BEFORE any comparison happens.
        // Every registry output must therefore be scalar-only —
        // flatten lists to canonical strings (reduce/array_join) in
        // the RETURN. Fail loudly here so the class of round-7 gate
        // errors (cypher_varlen_rels et al.) cannot be reintroduced.
        val bad = df.schema.fields.filter(f => f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               _: org.apache.spark.sql.types.StructType => true
          case _ => false
        })
        if (bad.nonEmpty) {
          complexTyped ::= s"$name(${bad.map(_.name).mkString(",")})"
          System.err.println(s"[verify] $name: complex-typed output " +
            s"columns ${bad.map(f => s"${f.name}:${f.dataType.simpleString}")
              .mkString(", ")} — the driver's pandas compare cannot " +
            "sort these; flatten to scalars in the query")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Scratch.release() // per-query scratch caches (see graft.Scratch)
    }
    if (complexTyped.nonEmpty)
      System.err.println(s"[verify] ${complexTyped.size} quer" +
        s"${if (complexTyped.size == 1) "y" else "ies"} with " +
        s"complex-typed outputs: ${complexTyped.mkString(", ")}")
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
