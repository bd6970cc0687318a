package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cores C --work DIR --out FILE`.
  * Starts the session, builds the workload's fixture several times (the
  * median is the set-up time), warms up, runs the timed window, and writes
  * everything measured to FILE as JSON; run.py checks the outputs and
  * derives the metrics.
  */
object Main {
  val setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    val spark = graft.GraftSession.ready(graft.GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"),
      cores.toString).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    // JVM start to a ready session
    val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val trace = new Trace(traced)
    trace.install(spark)
    val ctx = new Ctx(spark, seed, cores, trace)
    val wl: Workload = name match {
      case "zng_query" => new ZngQuery(seed)
      case "het_zson" => new HetZson(seed)
      case "convert" => new Convert(seed)
      case "lake_service" => new LakeService(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = (0 until setups).map { i =>
      val dir = s"$work/fixture-$i"
      val t = System.nanoTime()
      trace.op(spark, "setup", "setup")(wl.setup(ctx, dir))
      val s = (System.nanoTime() - t) / 1e9
      if (i < setups - 1) Fixtures.delete(dir)
      s
    }
    val dir = s"$work/fixture-${setups - 1}"
    val inputBytes = wl.inputs.map(i => Fixtures.dirBytes(s"$dir/$i")).sum

    System.gc()
    val (gcMs0, gcN0) = Proc.gc()
    val rchar0 = if (traced) Proc.rchar() else 0L
    val m = wl.measure(ctx, dir, seconds)
    val (gcMs1, gcN1) = Proc.gc()
    val rchar1 = if (traced) Proc.rchar() else 0L
    val hwmKb = Proc.hwmKb()

    val readback = wl.readback(ctx, dir)
    wl.probes(ctx, dir)
    trace.drain(spark)
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size

    val out = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "cores" -> cores, "session_s" -> sessionS, "setup_runs_s" -> setupS,
      "input" -> (wl.input + ("bytes" -> inputBytes)),
      "window" -> Map("start" -> m.start, "end" -> m.end),
      "ops" -> m.ops, "results" -> m.results, "readback" -> readback,
      "oracle" -> wl.oracle(dir), "rss_hwm_kb" -> hwmKb,
      "jvm" -> Map("gc_ms" -> (gcMs1 - gcMs0), "gc_count" -> (gcN1 - gcN0),
        "rchar" -> (rchar1 - rchar0), "cached_rdds" -> cachedRdds)) ++
      wl.extra(dir) ++ (if (traced) Map("trace" -> trace.dump()) else Map.empty)
    Files.writeString(Paths.get(opt("out")), Json.write(out))
    // Everything is written. Skip Spark's orderly shutdown: its files live
    // in the work directory, which run.py deletes, and no lingering
    // non-daemon thread may keep the run alive.
    Runtime.getRuntime.halt(0)
  }
}
