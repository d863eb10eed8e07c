package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_ops`: timed passes over two fixed lists of declared queries, each
  * written to the `noop` sink as the engine's own bench does. The seed
  * permutes the order inside every pass.
  */
final class Batch(spark: SparkSession, dataDir: String, dumpDir: String, seed: Long,
                  tracer: Option[Tracer], plant: String) {

  /** Fixed per-query cost (build, plan, codegen, job launch) dominates. */
  val short: Seq[String] = Seq("cdc_table_filter", "cdc_redact", "cdc_redact_map",
    "cdc_tiering", "cdc_op_counts", "cdc_snapshot", "cdc_prev_image", "ops_strat_sample",
    "ops_weighted_sample", "ops_doc_sample", "ops_text_quality", "ops_text_stats",
    "ops_media_meta", "ops_q6_forecast", "ops_sim_topk", "ops_embed_quant")
  /** Scan, exchange and in-row kernels dominate: the flagship pipeline and
    * its Variant twin, two pair-explosion queries, two ANN serves and a
    * shuffle-heavy join.
    */
  val heavy: Seq[String] = Seq("cdc_pipeline", "cdc_variant_pipeline", "ops_containment",
    "ops_ngram_jaccard", "ops_sim_ivfpq_batch", "ops_sim_pq_served", "ops_q21_waiting")
  val pairs: Set[String] = Set("ops_containment", "ops_ngram_jaccard")
  val serve: Set[String] = Set("ops_sim_ivfpq_batch", "ops_sim_pq_served")

  private val failed = mutable.Set.empty[String]
  private var pass = 0

  private def order(list: Seq[String]): Seq[String] = {
    pass += 1
    new scala.util.Random(seed * 1000003L + pass).shuffle(list)
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dataDir)

  /** One untimed pass that doubles as the output check: every query's rows
    * land as parquet under `dumpDir` with the oracle SQL beside them, in the
    * layout `tools/compare.py` reads. A planted fault duplicates one row.
    */
  def checkPass(): Unit = {
    val names = order(short ++ heavy)
    names.foreach { name =>
      try Tracer.within(tracer, s"cold-${if (short.contains(name)) "short" else "heavy"}/$name") {
        val df = query(name)
        val out = if (plant == "row" && name == "ops_text_stats") df.union(df.limit(1)) else df
        out.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e"); failed += name
      }
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$dumpDir/ran_queries.json"),
      names.filterNot(failed).sorted.map(q).mkString("[", ",", "]"))
  }

  /** One timed pass over `list`: per-query wall seconds (a failed query is
    * recorded as failed and its time left out).
    */
  def timedPass(list: Seq[String], label: String): Seq[(String, Double)] =
    order(list).flatMap { name =>
      val t0 = System.nanoTime()
      val ok = try {
        Tracer.within(tracer, s"$label/$name") {
          val df = tracer.fold(query(name))(_.build(query(name)))
          df.write.format("noop").mode("overwrite").save()
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e"); failed += name; false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $label $name: $secs%.3f s")
      if (ok) Some(name -> secs) else None
    }

  def failures: Set[String] = failed.toSet
  def size: Int = short.size + heavy.size
}
