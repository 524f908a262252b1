package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The `curation` workload, system side: registry queries
  * ([[SparkEntry.queries]] and [[Bench.benchOnly]]), each materialized to
  * parquet as `graft.Verify` does, so the answers can be checked. An
  * untimed warm pass over the warm-up data set runs first; then one
  * timed pass runs the queries in the given order, every query one span,
  * and the RDDs still persisted when it returns are counted before the
  * cache is cleared (as `graft.Bench` clears it).
  */
object CurationRun {
  def registry: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    SparkEntry.queries ++ Bench.benchOnly.toMap

  def apply(spark: SparkSession, workDir: File, params: JsonNode, spans: Spans): Map[String, Any] = {
    val reg = registry
    val names = params.get("order").elements().asScala.map(_.asText).toSeq
    val warmDir = params.get("warm_dir").asText
    val dataDir = params.get("data_dir").asText
    val out = new File(workDir, "answers")
    def materialize(name: String, dir: String, to: File): Unit =
      reg(name)(spark, dir).write.mode("overwrite").parquet(to.getAbsolutePath)
    val warm = names.map { n =>
      val t0 = System.nanoTime()
      try materialize(n, warmDir, new File(workDir, "warm"))
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
      n -> (System.nanoTime() - t0) / 1e6
    }
    println(s"READY ${System.currentTimeMillis()}")
    Console.out.flush()
    val sc = spark.sparkContext
    val rows = names.map { n =>
      val (error, s) = Harness.inSpan(spark, spans, "query", 0L, Map("query" -> n)) {
        try { materialize(n, dataDir, new File(out, n)); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      }
      val persisted = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      Map("query" -> n, "span" -> s.id, "ms" -> (s.endMs - s.startMs),
        "persisted_after" -> persisted, "error" -> error)
    }
    Map("queries" -> rows, "warm_ms" -> warm.toMap)
  }
}

/** Writes `SparkEntry.oracleSql` for the given queries: the DuckDB SQL
  * the benchmark's expected answers are computed from.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val oracle = SparkEntry.oracleSql
    val names = args.drop(1).toSeq
    Json.save(new File(args(0)), names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }
}
