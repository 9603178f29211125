package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.codec.DnstapCodec
import graft.dns.DnstapRows
import graft.operators.GroupingSetCounter
import graft.sinks.BatchSink

/** The full reference pipeline (SURVEY §3) in Structured Streaming: a
  * stream of raw dnstap protobuf frames → decode/parse/explode → three
  * branches → micro-batch sinks.
  *
  * Topology (two streaming queries, matching the reference's two cadences):
  *   - W1 query (`Trigger.ProcessingTime(writeInterval)`, default 20 s):
  *     per-trigger grouping-set aggregation of client queries and non-OK
  *     client responses inside `foreachBatch` — per-batch aggregation IS
  *     the reference's clear-on-flush semantics (aggregator.go:424,446).
  *     The query leg and the response leg run concurrently (`Par.eval`,
  *     on threads that inherit the batch's job group and batch id); the
  *     first leg to fail cancels the other and fails the batch;
  *   - W2 query (`writeInterval/2`): mask-sampled symmetric latency
  *     matcher (`flatMapGroupsWithState`, see LatencyMatcher) + per-
  *     identity average per trigger (A4), feeding the adaptive-sampler
  *     control loop (O5) from the driver between batches.
  *
  * Branch construction is config-gated exactly like the reference (O2:
  * disabled stages are never built; enabling nothing is an error,
  * dnstap.go:66-71).
  */
object DnstapPipeline {

  /** Mirrors the reference TOML surface (config/toml.go:35-81), crosswise
    * flag names preserved (SURVEY §2.5: `groupbyQuestion=true` collapses
    * the question columns). */
  final case class Config(
      clientQueries: Boolean = true,
      nonOkClientResponses: Boolean = true,
      clientResponseTimeSamples: Boolean = true,
      aggregate: Boolean = true,
      writeUngrouped: Boolean = true,
      groupbyQuestion: Boolean = true,
      groupbyQueryAddress: Boolean = true,
      writeIntervalSecs: Int = 20,
      /** 0 ⇒ derived writeInterval/2 (config/toml.go:189-191). */
      responseTimeAggIntervalSecs: Int = 0,
      adaptiveSampling: Boolean = true,
      samplerSeed: Long = 0xd275L) {
    def sampleIntervalSecs: Int =
      if (responseTimeAggIntervalSecs > 0) responseTimeAggIntervalSecs
      else math.max(writeIntervalSecs / 2, 1)
  }

  final case class Sinks(queries: BatchSink, responses: BatchSink,
                         samples: BatchSink)

  /** Start the pipeline over a streaming Dataset of raw frames.
    *
    * @param frames  streaming source column of BINARY dnstap frames
    * @param instantTriggers test mode: fire micro-batches as fast as
    *        possible instead of on the configured wall-clock cadence
    */
  def start(spark: SparkSession, frames: Dataset[Array[Byte]], cfg: Config,
            sinks: Sinks, checkpointRoot: String,
            instantTriggers: Boolean = false): Seq[StreamingQuery] = {
    import spark.implicits._
    val needAgg = cfg.clientQueries || cfg.nonOkClientResponses
    require(needAgg || cfg.clientResponseTimeSamples,
      "pipeline config enables no branch (reference Init would error)")

    def trigger(secs: Int): Trigger =
      if (instantTriggers) Trigger.ProcessingTime(0) else Trigger.ProcessingTime(s"$secs seconds")

    val queries = Seq.newBuilder[StreamingQuery]

    if (needAgg) {
      val q = frames.writeStream
        .queryName("graft-dnstap-agg")
        .option("checkpointLocation", s"$checkpointRoot/agg")
        .trigger(trigger(cfg.writeIntervalSecs))
        .foreachBatch { (batch: Dataset[Array[Byte]], batchId: Long) =>
          // each branch decodes the raw frames straight to its rows: a
          // second protobuf+DNS-wire pass costs less than caching decoded
          // frames through an encoder only to flatten them again. The two
          // legs share nothing, so they write at once; a failed leg stops
          // its sibling (Par.eval) and fails the batch.
          val legs = Seq.newBuilder[() => Unit]
          if (cfg.clientQueries) legs += { () =>
            sinks.queries.write(aggregateQueries(queryRows(batch), cfg), batchId)
          }
          if (cfg.nonOkClientResponses) legs += { () =>
            // keepSuccess=false here is Fl4+Fl5: NOERROR rows never reach
            // the aggregation branch even when the sample branch keeps
            // them (that branch decodes its own stream below).
            val rows = batch.flatMap(b => DnstapCodec.decode(b).toSeq
              .flatMap(DnstapRows.toResponseRows(_, keepSuccess = false))).toDF()
            sinks.responses.write(aggregateResponses(rows, cfg), batchId)
          }
          graft.Par.eval(legs.result())
          ()
        }
        .start()
      queries += q
    }

    if (cfg.clientResponseTimeSamples) {
      // O5 control state lives on the DRIVER only (inside foreachBatch);
      // executors get the fixed matchValue via closure capture and the
      // current mask width via a Spark local property that travels with
      // every task — multi-node correct, no shared-JVM registry.
      val sampler =
        if (cfg.adaptiveSampling) Some(new AdaptiveSampler(cfg.samplerSeed))
        else None
      val maskProp = s"graft.sampler.maskBits.${UUID.randomUUID()}"
      val matchValue = sampler.map(_.matchValue).getOrElse(0)

      val events: Dataset[LatencyMatcher.MatchEvent] = frames.flatMap { b =>
        val bits = AdaptiveSampler.maskBitsFromTask(maskProp)
        DnstapCodec.decode(b).toSeq.flatMap { f =>
          val qs = DnstapRows.toQueryRows(f).map(r =>
            LatencyMatcher.MatchEvent(r.identity, r.queryAddress, r.queryPort,
              r.id, LatencyMatcher.micros(r.queryTime), isResponse = false))
          val rs = DnstapRows.toResponseRows(f, keepSuccess = true).map(r =>
            LatencyMatcher.MatchEvent(r.identity, r.queryAddress, r.queryPort,
              r.id, LatencyMatcher.micros(r.responseTime), isResponse = true))
          (qs ++ rs).filter(e => AdaptiveSampler.accepts(e.id, bits, matchValue))
        }
      }

      val matched =
        LatencyMatcher.samples(spark, events, cfg.sampleIntervalSecs * 1000L)

      // handle for reading our own progress from inside foreachBatch
      // (assigned right after start(); batch 0 sees null → no pressure)
      val qRef =
        new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()

      val q = matched.writeStream
        .queryName("graft-dnstap-samples")
        .option("checkpointLocation", s"$checkpointRoot/samples")
        .trigger(trigger(cfg.sampleIntervalSecs))
        .foreachBatch { (batch: Dataset[LatencyMatcher.Sample], batchId: Long) =>
          // A4: per-identity integer-division average per interval,
          // stamped with the last response time (W3, aggregator.go:396-404)
          val agg = batch.toDF()
            .groupBy(col("identity"))
            .agg(max(col("responseTime")).as("responseTime"),
              floor(sum(col("deltaMicros")) / count(lit(1)))
                .as("responseTimeMicroSec"),
              count(lit(1)).as("matches"))
          val persisted = graft.sinks.BatchSink.cacheCoalesced(agg)
          try {
            val total = persisted.agg(sum(col("matches"))).collect()
              .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
              .getOrElse(0L)
            sinks.samples.write(
              persisted.select(col("responseTime"), col("identity"),
                col("responseTimeMicroSec"), lit(1L).as("counter")), batchId)
            sampler.foreach { s =>
              // O5 overflow feedback: the matcher's in-flight state size
              // from the last completed trigger's progress (one-interval
              // lag — the reference also reads its overflow counter once
              // per interval, aggregator.go:455-483)
              val pending = Option(qRef.get())
                .flatMap(query => Option(query.lastProgress))
                .map(_.stateOperators.map(_.numRowsTotal).sum)
                .getOrElse(0L)
              s.observeInterval(total, pending)
              // Publish the (possibly re-tuned) mask for the NEXT trigger:
              // foreachBatch runs on this query's stream-execution thread,
              // the thread that submits the next micro-batch's jobs, so a
              // local property set here reaches every executor task.
              spark.sparkContext
                .setLocalProperty(maskProp, s.currentMaskBits.toString)
            }
          } finally persisted.unpersist()
        }
        .start()
      qRef.set(q)
      queries += q
    }

    queries.result()
  }

  /** W1's client-query rows of a batch of raw frames (Fl1, Fl2, P1–P8, F1). */
  def queryRows(frames: Dataset[Array[Byte]]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.flatMap(b => DnstapCodec.decode(b).toSeq.flatMap(DnstapRows.toQueryRows(_))).toDF()
  }

  /** A1 (or A3 pass-through when aggregate=false) on a micro-batch. */
  def aggregateQueries(rows: DataFrame, cfg: Config): DataFrame =
    if (!cfg.aggregate)
      rows.select(col("queryTime"), col("identity"), col("queryAddress"),
        col("questionName"), col("questionType"), col("counter"))
    else
      GroupingSetCounter(rows,
        fixed = Seq("identity"), address = Seq("queryAddress"),
        question = Seq("questionName", "questionType"),
        tsCol = "queryTime", tsOut = "queryTime",
        writeUngrouped = cfg.writeUngrouped,
        groupbyQuestion = cfg.groupbyQuestion,
        groupbyQueryAddress = cfg.groupbyQueryAddress)

  /** A2 (or A3) for the response stream — status joins every key. */
  def aggregateResponses(rows: DataFrame, cfg: Config): DataFrame =
    if (!cfg.aggregate)
      rows.select(col("responseTime"), col("identity"), col("responseStatus"),
        col("queryAddress"), col("questionName"), col("questionType"),
        col("counter"))
    else
      GroupingSetCounter(rows,
        fixed = Seq("identity", "responseStatus"), address = Seq("queryAddress"),
        question = Seq("questionName", "questionType"),
        tsCol = "responseTime", tsOut = "responseTime",
        writeUngrouped = cfg.writeUngrouped,
        groupbyQuestion = cfg.groupbyQuestion,
        groupbyQueryAddress = cfg.groupbyQueryAddress)
}
