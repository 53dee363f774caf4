package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: builds the workload's inputs from the seed, sets
  * the program up, measures one window, checks every answer, and writes
  * the raw result (and, when tracing, the spans) as JSON files. The
  * runner, perfbench/run.py, turns that into the result line.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *        --out FILE --spans FILE
  */
object Main {
  final case class Shape(n: Int, queries: Int, inserts: Int)

  val Shapes: Map[String, Shape] = Map(
    "knn_exact" -> Shape(10000, 1000, 256),
    "ann_batch" -> Shape(10000, 1000, 256))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val shape = Shapes.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traceOn = opt("trace") == "1"
    val work = new File(opt("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    val steal0 = Meter.stealTicks()
    val tracer = new Tracer(traceOn)
    val out = new Outcome

    // inputs: the benchmark's own cost, outside set-up
    val tIn = System.nanoTime()
    val corpus = Corpus.generate(seed, shape.n, shape.queries, shape.inserts)
    val truth = Corpus.groundTruth(corpus, corpus.queries, Workloads.K, cpus)

    val t0 = System.nanoTime()
    val spark = tracer.span("setup.session")(_ => session(cpus, work))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter(spark.sparkContext, tracer)
    val corpusDir = new File(work, "corpus").getPath
    val tw = System.nanoTime()
    corpus.write(spark, corpusDir, cpus)
    out.detail("inputs_s") = (t0 - tIn + System.nanoTime() - tw) / 1e9
    val heap = new Meter.HeapPeak
    val ctx = new Ctx(spark, cpus, seed, seconds, work, corpus, corpusDir, truth,
      tracer, meter, heap, out)
    out.setupS = sessionS

    val ivfDir = name match {
      case "knn_exact" => Workloads.knnExact(ctx); None
      case "ann_batch" => Some(Workloads.annBatch(ctx))
    }
    heap.checkpoint()
    val lat = out.latMs.asScala.toSeq
    val endToEnd = Map(
      "setup_s" -> out.setupS,
      "p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "mean_ms" -> Stats.mean(lat),
      "recall_at_10" -> Stats.mean(out.recalls.asScala.toSeq),
      "heap_peak_mb" -> heap.peakMb)

    if (traceOn) {
      Probes.run(ctx, ivfDir.getOrElse(Workloads.ivfStore(ctx)))
      endToEnd.foreach { case (k, v) => out.layer(s"traced.$k") = v }
    }
    spark.catalog.clearCache()
    meter.drain()
    out.layer("spark.blocks_left_mb") = spark.sparkContext.getExecutorMemoryStatus
      .values.map { case (max, free) => max - free }.sum / 1048576.0
    out.layer("trace.spans") = tracer.count.toDouble
    spark.stop()

    val env = Map(
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "seed" -> seed,
      "seconds" -> seconds,
      "corpus" -> Map("n" -> shape.n, "dim" -> Corpus.Dim, "queries" -> shape.queries),
      "steal_s" -> (Meter.stealTicks() - steal0) / Meter.TicksPerSecond)
    val result = Map(
      "workload" -> name,
      "trace" -> traceOn,
      "correct" -> (out.errors.isEmpty && out.failed.get == 0 && lat.nonEmpty),
      "attempted" -> out.attempted.get,
      "failed" -> out.failed.get,
      "errors" -> out.errors.asScala.toSeq,
      "end_to_end" -> endToEnd,
      "tail" -> (if (lat.isEmpty) None else Some(Stats.tail(lat) match {
        case (pct, ms) => Map("percentile" -> pct, "ms" -> ms, "samples" -> lat.size)
      })),
      "error_rate" -> out.failed.get.toDouble / math.max(1L, out.attempted.get),
      "layer" -> out.layer,
      "detail" -> out.detail,
      "env" -> env)
    write(new File(opt("out")), Json.render(result))
    if (traceOn) {
      val pw = new PrintWriter(new File(opt("spans")), "UTF-8")
      try tracer.all.sortBy(_.startNs).foreach { s =>
        pw.println(Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "rid" -> s.rid, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      } finally pw.close()
    }
  }

  private def write(f: File, s: String): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try pw.println(s) finally pw.close()
  }

  /** The session the library's entry points build: local[cpus], the
    * flat-float cache serializer and its scan extension, the shuffle
    * width at the cpu count, FAIR so concurrent serving jobs share the
    * pool, then SparkEntry.tune. Scratch space stays under `work`. */
  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.cache.serializer", "graft.functions.GraftCachedBatchSerializer")
      .config("spark.sql.extensions", "graft.plans.GraftCacheScanExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.tune(spark)
  }
}
