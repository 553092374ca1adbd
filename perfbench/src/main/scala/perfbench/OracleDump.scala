package perfbench

/** Writes the DuckDB oracle SQL of the catalog entries the benchmark's
  * output checks use, as one JSON object, to the path in args(0). */
object OracleDump {
  val Entries: Seq[String] = Seq(
    "ep2_results_document", "a1_sentiment_distribution", "a4_daily_trends",
    "f11_insurance_risk", "st10_dedup_ingest", "sim_index_export",
    "sim_index_query_delta", "sim_index_compact")

  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    val picked = Entries.map { e =>
      e -> all.getOrElse(e, sys.error(s"no oracle SQL for catalog entry $e"))
    }
    val json = picked.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      json.getBytes("UTF-8"))
  }
}
