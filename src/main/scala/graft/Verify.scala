package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: run only these queries (fast local iteration).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // A typo'd name must fail loudly, not select nothing and let the
    // oracle compare pass vacuously with 0 queries.
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // Fixture-adaptive oracles (schema-dependent SQL) overlay the static
    // fallbacks — mirrors the Spark side's runtime schema adaptivity.
    val adaptive = SparkEntry.oracleSql ++
      (try graph.GraphRegistry.adaptiveOracles(spark, sfDir)
       catch { case e: Throwable =>
         System.err.println(s"[verify] adaptive oracle probe failed: $e")
         Map.empty[String, String]
       }) ++
      // Index-adaptive IVF/PQ twins: pinned centroids/codebooks from the
      // same memoized index the dumped results read.
      (try similarity.SimilarityRegistry.adaptiveOracles(spark, sfDir)
       catch { case e: Throwable =>
         System.err.println(s"[verify] similarity adaptive oracles failed: $e")
         Map.empty[String, String]
       }) ++
      // Factor-adaptive ALS serving twin: pinned factor matrices from
      // the same memoized fixed-seed model the dumped result reads.
      (try operators.RecsRegistry.adaptiveOracles(spark, sfDir)
       catch { case e: Throwable =>
         System.err.println(s"[verify] recs adaptive oracles failed: $e")
         Map.empty[String, String]
       }) ++
      // Pinned learned-state twin for the deep BPE merge table.
      (try text.TextRegistry.adaptiveOracles(spark, sfDir)
       catch { case e: Throwable =>
         System.err.println(s"[verify] text adaptive oracles failed: $e")
         Map.empty[String, String]
       })
    val oracles =
      if (only.isEmpty) adaptive
      else adaptive.filter { case (n, _) => only(n) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
