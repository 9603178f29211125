package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The batch workload: the reference's downstream query surface from the
  * registry, each query fully materialised (`toRdd.foreach`), over tables
  * generated from the seed. Untimed warm passes, then timed passes for
  * the run's seconds; the results are dumped afterwards for the oracle
  * check. A traced run times its passes untraced, then traced. */
object Analytics {

  private def materialize(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  /** One pass; returns each query's wall seconds. */
  private def pass(spark: SparkSession, names: Seq[String], dir: String,
                   traced: Boolean, plans: collection.mutable.Map[String, Seq[Double]]): Seq[Double] = {
    val registry = SparkEntry.queries
    names.map { n =>
      // one job group per execution; the listener sums them per query
      val group = s"$n@${Spans.nextId("run")}"
      if (traced) spark.sparkContext.setJobGroup(group, n)
      val t0 = Clock.epochNs()
      val df = registry(n)(spark, dir)
      materialize(df)
      val t1 = Clock.epochNs()
      if (traced) {
        spark.sparkContext.clearJobGroup()
        Spans.add(s"query:$n", t0, t1, id = s"query-$group")
        val ph = df.queryExecution.tracker.phases
        plans(n) = plans.getOrElse(n, Nil) :+
          Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs.toDouble).sum
      }
      (t1 - t0) / 1e9
    }
  }

  private def timedPasses(spark: SparkSession, a: Args, names: Seq[String], dir: String,
                          traced: Boolean, plans: collection.mutable.Map[String, Seq[Double]]): Seq[Seq[Double]] = {
    val start = System.nanoTime()
    val passes = Seq.newBuilder[Seq[Double]]
    var n = 0
    while (n < a.cfg("min_passes").asInt || System.nanoTime() - start < a.seconds * 1000000000L) {
      passes += pass(spark, names, dir, traced, plans)
      n += 1
    }
    passes.result()
  }

  def run(a: Args): Result = {
    val names = Harness.strings(a.cfg("queries"))
    val dir = s"${a.runDir}/data"
    val gen = if (a.trace) Some(new GenProcess(a.genCommand ++ Seq(a.seed.toString,
      a.nproc.toString, "0", s"${a.runDir}/lane_expected.tsv", a.cfg("lane_frames").asText),
      s"${a.runDir}/gen.log")) else None
    try {
      val spark = Harness.start(Harness.builder(a)
        .config("spark.sql.shuffle.partitions", a.nproc.toString))
      val sessionS = (Clock.epochNs() / 1e6 - a.t0EpochMs) / 1000.0
      val plans = collection.mutable.Map.empty[String, Seq[Double]]
      // warm-up: a pass over a small table of its own compiles every plan
      // cheaply; full passes then JIT the per-row paths
      pass(spark, names, s"${a.runDir}/warm", traced = false, plans)
      (0 until a.cfg("warm_passes").asInt).foreach(_ => pass(spark, names, dir, traced = false, plans))
      val setupS = (Clock.epochNs() / 1e6 - a.t0EpochMs) / 1000.0
      val plain = timedPasses(spark, a, names, dir, traced = false, plans)
      val result = new Result()
      if (!a.trace) {
        result.metric("setup_s", setupS, "s")
        result.metric("wall_s", Stats.median(plain.map(_.sum)), "s")
        // quantiles over every query execution of every pass, so that the
        // statistic moves smoothly instead of jumping between queries
        val executions = plain.flatten.map(_ * 1000)
        result.metric("lat_p50_ms", Stats.quantile(executions, 0.5), "ms")
        result.metric("lat_p99_ms", Stats.quantile(executions, 0.99), "ms")
        val perQuery = names.indices.map(i => Stats.median(plain.map(_(i))) * 1000)
        result.detail("setup_s_at", Map("session" -> sessionS, "warm_pass" -> setupS))
        result.detail("passes", plain.map(_.sum))
        result.detail("lat_samples", executions.length.toDouble)
        result.detail("queries_ms", names.zip(perQuery).toMap)
      } else {
        val listener = new BenchListener
        spark.sparkContext.addSparkListener(listener)
        Spans.on = true
        val w0 = System.currentTimeMillis()
        val traced = timedPasses(spark, a, names, dir, traced = true, plans)
        val w1 = System.currentTimeMillis()
        Spans.on = false
        org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        result.metric("trace.overhead_frac",
          Stats.median(traced.map(_.sum)) / Stats.median(plain.map(_.sum)) - 1, "fraction")
        listener.sparkMetrics(w0, w1).foreach { case (n, v, u) => result.metric(n, v, u) }
        names.zipWithIndex.foreach { case (n, i) =>
          val short = n.takeWhile(_ != '_')
          result.metric(s"queries.$short.s", Stats.median(traced.map(_(i))), "s")
          result.metric(s"queries.$short.plan_ms", Stats.median(plans(n)), "ms")
          val runs = traced.length.toDouble
          result.metric(s"queries.$short.jobs", listener.groupTotal(listener.groupJobs, n) / runs, "count")
          result.metric(s"queries.$short.shuffle_bytes",
            listener.groupTotal(listener.groupShuffle, n) / runs, "bytes")
        }
        gen.get.awaitReady()
        val lanes = Lanes.run(spark, a, graft.config.GraftConfig.defaults, gen.get,
          a.cfg("lane_batch_frames").asInt)
        lanes.metrics.foreach { case (n, v, u) => result.metric(n, v, u) }
      }
      // the dump for the oracle check, outside every timed region
      val registry = SparkEntry.queries
      names.foreach { n =>
        registry(n)(spark, dir).repartition(1).write.mode("overwrite")
          .parquet(s"${a.runDir}/results/$n")
      }
      result.check = Map("kind" -> "oracle", "data" -> dir, "results" -> s"${a.runDir}/results",
        "oracle_sql" -> names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
      gen.foreach(_.quit())
      result
    } finally gen.foreach(_.destroy())
  }
}
