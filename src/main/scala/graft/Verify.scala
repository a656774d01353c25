package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (dev loop);
    // the driver passes exactly two args and gets the full dump
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // declared-vs-recorded completeness: a query that throws must leave a
    // machine-readable trace, not just vanish from the dump (a missing
    // entry reads as "never declared" downstream — r8 shipped 35 silent
    // absences that way). errors.json is written even when empty so its
    // presence distinguishes "no failures" from "old dump".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
        if (sys.env.contains("GRAFT_VERIFY_STACK")) e.printStackTrace()
      }
      // release intra-query persisted intermediates once the dump action
      // is done — the 298-query JVM otherwise accumulates dead cache
      // blocks (see [[graft.ops.QueryCaches]])
      graft.ops.QueryCaches.releaseAll()
    }
    // Jackson escapes quotes, backslashes and every control char — a tab
    // or CR in the oracle SQL must not break the reader's json.load
    val json = new ObjectMapper()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json.writeValueAsString(SparkEntry.oracleSql.asJava))
    // subset (dev-loop) runs must MERGE into an existing errors.json, not
    // clobber it: only the queries attempted this run get their entries
    // refreshed (success drops the entry, failure replaces it) — a prior
    // full run's record for untouched queries survives. A full run is
    // authoritative and starts clean.
    val errPath = Paths.get(s"$outDir/errors.json")
    val prior: Map[String, String] =
      if (only.isDefined && Files.exists(errPath))
        try json.readValue(Files.readString(errPath), classOf[java.util.Map[String, String]])
          .asScala.toMap
        catch { case _: Exception => Map.empty }
      else Map.empty
    val attempted = SparkEntry.queries.keySet.filter(n => only.forall(_.contains(n)))
    val merged = (prior -- attempted) ++ errors
    Files.writeString(errPath,
      json.writeValueAsString(new java.util.TreeMap[String, String](merged.asJava)))
    spark.stop()
  }
}
