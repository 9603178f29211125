package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.SparkTuning

/** One run's arguments, written by `run.py` as JSON. `t0EpochMs` is when
  * the run's set-up began (before input generation). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      runDir: String, t0EpochMs: Double, nproc: Int,
                      genCommand: Seq[String], config: JsonNode) {
  def cfg(key: String): JsonNode =
    Option(config.get(key)).getOrElse(throw new IllegalArgumentException(s"config lacks $key"))
}

/** Metrics (name → value, unit), free-form detail, and what the output
  * check needs; written as `result.json` for `run.py`. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val details = mutable.LinkedHashMap.empty[String, Any]
  var check: Map[String, Any] = Map.empty
  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = Map("value" -> value, "unit" -> unit)
  def detail(name: String, value: Any): Unit = details(name) = value
}

/** The in-JVM half of the benchmark: `perfbench.Harness <args.json>`. */
object Harness {
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def builder(a: Args): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .config(SparkTuning.ExcludedRulesKey, SparkTuning.ExcludedRules)

  def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val j = Json.read(args(0))
    val a = Args(j.get("workload").asText, j.get("seed").asLong, j.get("seconds").asInt,
      j.get("trace").asBoolean, j.get("run_dir").asText, j.get("t0_epoch_ms").asDouble,
      j.get("nproc").asInt, strings(j.get("gen_command")), j.get("config"))
    val result = a.workload match {
      case "ingest_agg" => Ingest.run(a)
      case "dns_analytics" => Analytics.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (!a.trace) result.metric("peak_rss_mb", peakRssMb(), "MB")
    if (a.trace) Spans.writeJsonl(s"${a.runDir}/spans.jsonl", s"${a.workload}-${a.seed}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.runDir}/result.json"),
      Json.write(Map("metrics" -> result.metrics, "detail" -> result.details,
        "check" -> result.check)))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
