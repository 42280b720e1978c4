package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional trailing args: restrict to the named queries (faster
    // build-time iteration; the driver always runs the full set).
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // CC-backed queries leave localCheckpoint blocks that clearCache
        // can't see; free them so a 92-query run doesn't accumulate them.
        graft.operators.Graph.release(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // drop query-local persisted tables
    }
    // Restrict the oracle dump to the queries actually run: with `only`
    // set, writing ALL oracles would make tools/check.py report spurious
    // missing-parquet FAILs for every unrun query.
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(json))
    spark.stop()
  }
}
