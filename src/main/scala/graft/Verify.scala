package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.sources.LocalFs
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the library's session integration (SQL functions + the txlog
      // DML rule) — a user session configures spark.sql.extensions=
      // graft.GraftExtensions identically
      .withExtensions(new GraftExtensions())
      // the session-catalog half of the deployment (SQL time travel +
      // CALL procedures on txlog tables), exactly Delta's two-conf shape
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark has no nanos type —
      // read as epoch-nanos LongType (queries convert explicitly).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-iteration helper: GRAFT_VERIFY_KEYS=a,b,c dumps only those
    // keys (the driver sets nothing and gets the full run).
    val keep = sys.env.get("GRAFT_VERIFY_KEYS").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => keep.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try LocalFs.writer(fn(spark, sfDir).coalesce(1)).mode("overwrite")
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
