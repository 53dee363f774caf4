package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one diagnostics entry point: single-query timing, per-job
  * attribution, plan dumps, cold store builds and a one-query oracle
  * dump, each a mode of one main. Every result line starts with
  * `PROBE <mode>`.
  *
  * Usage: runMain graft.Probe <mode> [args…]
  *   time <q>[,<q>…] [sf] [reps]  warm per-rep wall of each query entry,
  *                                `probe:<entry>` pair probe or Bench
  *                                section (distance, distance_kernel,
  *                                throughput, throughput_batched,
  *                                insert_sweep, latency)
  *   jobs <q> [sf]                per-job wall and description of one
  *                                warm run
  *   explain [sf] [q…]            formatted physical plans (all entries
  *                                when none are named)
  *   builds [sf]                  Bench's warm-up stores, each timed cold
  *                                in a fresh index dir
  *   verify <q> [sf] [out]        one entry's parquet dump plus its
  *                                oracle SQL, for a local DuckDB compare
  * `sf` defaults to SPARK_GRAFT_SF_DIR, as in Bench. `time` and `jobs`
  * reset between runs as Bench does: SQL caches are cleared, and only
  * blocks persisted during the run are dropped. */
object Probe {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus("4"))
    try run(spark, args) finally spark.stop()
  }

  /** Run one mode on the caller's session, which stays open. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    def sf(i: Int): String = args.lift(i).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        "no scale-factor dir: pass one or set SPARK_GRAFT_SF_DIR"))
    args.toSeq match {
      case Seq("time", qs, _*) =>
        time(spark, qs.split(",").toSeq, sf(2), args.lift(3).fold(3)(_.toInt))
      case Seq("jobs", q, _*) => jobs(spark, q, sf(2))
      case Seq("explain", _*) => explain(spark, sf(1), args.drop(2).toSeq)
      case Seq("builds", _*) => builds(spark, sf(1))
      case Seq("verify", q, _*) => verify(spark, q, sf(2), args.lift(3))
      case _ => throw new IllegalArgumentException(
        s"unknown probe ${args.mkString(" ")}; see graft.Probe's scaladoc")
    }
  }

  /** Bench's serving and distance sections, runnable one at a time. */
  private val sections: Map[String, (SparkSession, String) => Any] = Map(
    "distance" -> (Bench.distanceBench(_, _)),
    "distance_kernel" -> (Bench.distanceKernelBench(_, _)),
    "throughput" -> (Bench.throughput(_, _)),
    "throughput_batched" -> (Bench.throughputBatched(_, _)),
    "insert_sweep" -> (Bench.insertSweep(_, _)),
    "latency" -> (Bench.latencyBench(_, _)))

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Each rep runs under Bench's reset discipline: blocks the rep left
    * behind are dropped, blocks that predate it are kept. */
  private def time(spark: SparkSession, names: Seq[String], sfDir: String,
      reps: Int): Unit = names.foreach { name =>
    sections.get(name) match {
      case Some(section) =>
        val t0 = System.nanoTime()
        val result = section(spark, sfDir)
        println(f"PROBE time $name ${seconds(t0)}%.3f s $result")
      case None =>
        val fn =
          if (name.startsWith("probe:"))
            queries.PairProbes.all(name.stripPrefix("probe:"))
          else SparkEntry.queries(name)
        (0 until reps).foreach { i =>
          val keep = Bench.persistedRddIds(spark)
          val t0 = System.nanoTime()
          Bench.exhaust(fn(spark, sfDir))
          println(f"PROBE time $name rep$i ${seconds(t0)}%.3f s")
          Bench.resetSharedState(spark, keep)
        }
    }
  }

  /** One warm-up run (stores, JIT), then one run with a listener that
    * records each job's wall and description. A one-task job tagged
    * [[FlushTag]] runs last: the listener bus delivers in order, so once
    * its end arrives every earlier job has been recorded. */
  private val FlushTag = "graft.Probe flush"

  private def jobs(spark: SparkSession, name: String, sfDir: String): Unit = {
    val sc = spark.sparkContext
    val fn = SparkEntry.queries(name)
    val keep = Bench.persistedRddIds(spark)
    Bench.exhaust(fn(spark, sfDir))
    Bench.resetSharedState(spark, keep)
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(), Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, desc) =>
          if (desc == FlushTag) flushed.countDown()
          else lines.synchronized {
            lines += f"PROBE jobs job ${j.jobId}%4d ${seconds(t0)}%6.3f s  ${desc.take(110)}"
          }
        }
    }
    sc.addSparkListener(listener)
    val desc = sc.getLocalProperty("spark.job.description")
    try {
      val t0 = System.nanoTime()
      Bench.exhaust(fn(spark, sfDir))
      val wall = seconds(t0)
      sc.setJobDescription(FlushTag)
      sc.parallelize(Seq(0), 1).count()
      flushed.await(60, TimeUnit.SECONDS)
      lines.synchronized {
        lines.foreach(println)
        println(f"PROBE jobs $name wall $wall%.3f s jobs ${lines.size}")
      }
    } finally {
      sc.setJobDescription(desc)
      sc.removeSparkListener(listener)
      Bench.resetSharedState(spark, keep)
    }
  }

  private def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted)
      .foreach { n =>
        println(s"PROBE explain ===== $n =====")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      }

  /** Cold builds: a fresh `graft.index.dir` for the run, restored and
    * deleted afterwards, so neither reads nor leaves a persisted store. */
  private def builds(spark: SparkSession, sfDir: String): Unit = {
    val dir = Files.createTempDirectory("graft-probe-builds").toFile
    val prev = sys.props.get("graft.index.dir")
    sys.props("graft.index.dir") = dir.getPath
    try {
      val times = Bench.warmStores(spark, sfDir).map { case (key, build) =>
        val t0 = System.nanoTime()
        build()
        val sec = math.rint((System.nanoTime() - t0) / 1e6) / 1e3
        println(s"PROBE builds $key $sec s")
        key -> sec
      }
      val js = times.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""PROBE builds {"metric":"build_total","value":${
        math.rint(times.map(_._2).sum * 1000) / 1000},"builds":{$js},"sf":"$sfDir"}""")
    } finally {
      prev match {
        case Some(p) => sys.props("graft.index.dir") = p
        case None => sys.props.remove("graft.index.dir")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  /** ANN oracles are generated from the persisted index the query run
    * just built; every other key reads the static maps, so a one-query
    * dump never pays an index build for an unrelated entry. */
  private def verify(spark: SparkSession, name: String, sfDir: String,
      out: Option[String]): Unit = {
    val outDir = out.getOrElse(
      Files.createTempDirectory("graft-probe-verify").toString)
    val prev = sys.props.get("graft.oracle.sfDir")
    sys.props("graft.oracle.sfDir") = sfDir
    try {
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val oracle =
        if (queries.IndexQueries.AnnOracleKeys(name)) SparkEntry.oracleSql.get(name)
        else (queries.VectorQueries.oracles ++ queries.AnalyticsQueries.oracles ++
          queries.TextQueries.oracles ++ queries.DedupQueries.oracles ++
          queries.IndexQueries.staticOracles ++ queries.PipelineQueries.oracles)
          .get(name)
      oracle.foreach(sql => Files.writeString(Paths.get(s"$outDir/$name.sql"), sql))
      println(s"PROBE verify $name $outDir/$name oracle=${
        if (oracle.isDefined) s"$outDir/$name.sql" else "none"}")
    } finally prev match {
      case Some(p) => sys.props("graft.oracle.sfDir") = p
      case None => sys.props.remove("graft.oracle.sfDir")
    }
  }
}
