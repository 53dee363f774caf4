package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{IndexStore, IvfIndex, KnnSearch}

/** What one run measures, filled by its workload. */
final class Outcome {
  val latMs = new ConcurrentLinkedQueue[Double]()
  val recalls = new ConcurrentLinkedQueue[Double]()
  val errors = new ConcurrentLinkedQueue[String]()
  val attempted, failed = new AtomicLong
  var setupS = 0.0
  // per-step detail for the run report
  val detail = mutable.LinkedHashMap.empty[String, Any]
  // values the traced run reports as per-layer metrics
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def error(msg: String): Unit = if (errors.size < 20) errors.add(msg)
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val cpus: Int, val seed: Long,
    val seconds: Int, val work: File, val corpus: Corpus, val corpusDir: String,
    val truth: Array[Array[(Long, Double)]], val tracer: Tracer,
    val meter: Meter, val heap: Meter.HeapPeak, val out: Outcome) {
  /** A fresh graft.index.dir, so every store build starts cold. */
  def freshIndexRoot(tag: String): Unit =
    System.setProperty("graft.index.dir", new File(work, s"index-$tag").getPath)

  def queriesDf(idx: Seq[Int]): DataFrame = {
    import spark.implicits._
    idx.map(i => (i.toLong, corpus.queries(i).toSeq)).toDF("query_id", "qv")
  }

  def corpusDf: DataFrame = spark.read.parquet(s"$corpusDir/embeddings.parquet")
}

object Workloads {
  val K = 10
  val Nprobe = 8
  val Clusters = 128
  val BatchQueries = 250
  val SetupRepeats = 3
  val ExactQueries = 1000

  private def secs(ns: Long): Double = ns / 1e9

  /** Runs `build` `SetupRepeats` times, each against a fresh index root,
    * closing all but the last result; returns it and the median wall. */
  private def repeatedSetup[T](ctx: Ctx)(build: => T): (T, Double) = {
    var last: Option[T] = None
    val walls = (1 to SetupRepeats).map { r =>
      last.foreach { case c: AutoCloseable => c.close(); case _ => }
      ctx.freshIndexRoot(r.toString)
      val t0 = System.nanoTime()
      last = Some(ctx.tracer.span(s"setup.$r")(_ => build))
      secs(System.nanoTime() - t0)
    }
    ctx.out.detail("setup_repeats_s") = walls
    (last.get, Stats.median(walls))
  }

  /** The IVF store (k = `Clusters`); its build wall is a layer metric. */
  def ivfStore(ctx: Ctx): String = {
    val t0 = System.nanoTime()
    val dir = ctx.tracer.span("operators.IndexStore.ivf")(_ =>
      IndexStore.ivf(ctx.spark, ctx.corpusDir, Clusters))
    ctx.out.layer("operators.ivf_build_s") = secs(System.nanoTime() - t0)
    dir
  }

  /** The measured window: one client runs `op` back to back for
    * `ctx.seconds` (a closed loop — each operation is sent when the
    * previous one has answered, so requests never queue behind each
    * other and the latency is the program's own). Records each op's
    * latency, failures, and the Spark counters over the window. */
  private def closedLoop(ctx: Ctx, name: String)(op: (Int, Long) => Unit): Unit =
    ctx.tracer.span(s"workload.$name") { root =>
      ctx.meter.parentForJobs(root)
      ctx.heap.checkpoint()
      val a = ctx.meter.snapshot()
      val end = a.ns + ctx.seconds * 1000000000L
      var i = 0
      var lateMax = 0L
      var lastDone = a.ns
      while (System.nanoTime() < end) {
        val start = System.nanoTime()
        lateMax = math.max(lateMax, start - lastDone)
        ctx.out.attempted.incrementAndGet()
        Try(ctx.tracer.span(s"op.$name", root, i)(id => op(i, id))) match {
          case Success(_) => ctx.out.latMs.add((System.nanoTime() - start) / 1e6)
          case Failure(e) =>
            ctx.out.failed.incrementAndGet()
            ctx.out.error(s"op $i failed: ${e.getMessage}")
        }
        lastDone = System.nanoTime()
        i += 1
      }
      val b = ctx.meter.snapshot()
      ctx.heap.checkpoint()
      val l = ctx.out.layer
      l("streaming.generator_late_ms_max") = lateMax / 1e6
      l("spark.jobs") = (b.jobs - a.jobs).toDouble
      l("spark.stages") = (b.stages - a.stages).toDouble
      l("spark.tasks") = (b.tasks - a.tasks).toDouble
      l("spark.plan_ms") = b.planMs - a.planMs
      l("spark.executor_run_s") = (b.execRunMs - a.execRunMs) / 1000.0
      l("spark.driver_gap_s") = secs(ctx.meter.uncoveredNs(a.ns, b.ns))
      l("spark.shuffle_write_mb") = (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1048576.0
      l("spark.spill_mb") = (b.spillBytes - a.spillBytes) / 1048576.0
      l("spark.gc_s") = (b.gcMs - a.gcMs) / 1000.0
      l("workload.ops") = i.toDouble
      l("workload.jobs_per_op") = (b.jobs - a.jobs).toDouble / math.max(1, i)
      ctx.out.detail("window_s") = secs(b.ns - a.ns)
      ctx.out.detail("window_steal_s") = (b.stealTicks - a.stealTicks) / Meter.TicksPerSecond
    }

  /** Times one step of an operation into `walls(step)`, as a span. */
  private def step[T](ctx: Ctx, walls: mutable.Map[String, mutable.ArrayBuffer[Double]],
      name: String, parent: Long, rid: Long)(body: => T): T =
    ctx.tracer.span(name, parent, rid) { _ =>
      val t = System.nanoTime()
      try body
      finally walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
    }

  private def stepDetail(walls: mutable.Map[String, mutable.ArrayBuffer[Double]]): Map[String, Any] =
    walls.map { case (n, xs) =>
      n -> Map("calls" -> xs.size, "p50_ms" -> Stats.median(xs.toSeq), "mean_ms" -> Stats.mean(xs.toSeq))
    }.toMap

  // -------------------------------------------------------------- ann_batch

  def exactPath(ctx: Ctx, q: DataFrame): DataFrame =
    KnnSearch.searchBatched(ctx.corpusDf, q, "vec_id", "embedding", K, numBatches = 1)

  def ivfPath(ctx: Ctx, ivfDir: String, q: DataFrame): DataFrame =
    IvfIndex.searchPruned(ctx.spark, ivfDir, q, K, Nprobe)

  private def hits(rows: Seq[Row]): Seq[Hit] =
    rows.map(r => Hit(r.getLong(1), r.getLong(2), r.getDouble(3)))

  /** ann_batch: one client, each operation a table of `BatchQueries`
    * queries answered exactly (KnnSearch.searchBatched) and through the
    * IVF store (IvfIndex.searchPruned), the recall evaluation a user runs
    * against an ANN index. Exact answers must equal the ground truth;
    * IVF answers are scored for recall against it. */
  def annBatch(ctx: Ctx): String = {
    val (ivfDir, buildS) = repeatedSetup(ctx)(ivfStore(ctx))
    val t0 = System.nanoTime()
    ctx.tracer.span("setup.warm") { _ =>
      val warmQ = ctx.queriesDf(0 until 4)
      exactPath(ctx, warmQ).collect(); ivfPath(ctx, ivfDir, warmQ).collect()
    }
    ctx.out.setupS += buildS + secs(System.nanoTime() - t0)

    val nq = ctx.corpus.queries.length
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    closedLoop(ctx, "ann_batch") { (i, parent) =>
      val idx = (0 until BatchQueries).map(j => (i * BatchQueries + j) % nq)
      val q = ctx.queriesDf(idx)
      val exact = step(ctx, walls, "operators.KnnSearch.searchBatched", parent, i)(
        exactPath(ctx, q).collect().toSeq).groupBy(_.getLong(0))
      val ivf = step(ctx, walls, "operators.IvfIndex.searchPruned", parent, i)(
        ivfPath(ctx, ivfDir, q).collect().toSeq).groupBy(_.getLong(0))
      idx.foreach { qi =>
        val qv = ctx.corpus.queries(qi)
        Check.exact(ctx.corpus, qv, hits(exact.getOrElse(qi.toLong, Nil)), ctx.truth(qi))
          .foreach(e => ctx.out.error(s"exact query $qi: $e"))
        val hs = hits(ivf.getOrElse(qi.toLong, Nil))
        Check.valid(ctx.corpus, qv, hs, K) match {
          case Some(e) => ctx.out.error(s"ivf query $qi: $e")
          case None => ctx.out.recalls.add(Check.recall(ctx.corpus, qv, hs, ctx.truth(qi)))
        }
      }
    }
    ctx.out.detail("steps") = stepDetail(walls)
    ivfDir
  }

  // -------------------------------------------------------------- knn_exact

  /** knn_exact: one client, each operation a table of `ExactQueries`
    * queries answered exactly (KnnSearch.searchBatched, 10 M pair
    * evaluations) and checked against the ground truth. Set-up has no
    * store to build: it is the session and a warm call (median of
    * `SetupRepeats` calls). */
  def knnExact(ctx: Ctx): Unit = {
    val warmQ = ctx.queriesDf(0 until 4)
    val (_, warmS) = repeatedSetup(ctx)(exactPath(ctx, warmQ).collect())
    ctx.out.setupS += warmS
    val nq = ctx.corpus.queries.length
    closedLoop(ctx, "knn_exact") { (i, parent) =>
      val idx = (0 until ExactQueries).map(j => (i * ExactQueries + j) % nq)
      val exact = ctx.tracer.span("operators.KnnSearch.searchBatched", parent, i)(_ =>
        exactPath(ctx, ctx.queriesDf(idx)).collect().toSeq).groupBy(_.getLong(0))
      idx.foreach { qi =>
        val qv = ctx.corpus.queries(qi)
        val hs = hits(exact.getOrElse(qi.toLong, Nil))
        Check.exact(ctx.corpus, qv, hs, ctx.truth(qi)) match {
          case Some(e) => ctx.out.error(s"exact query $qi: $e")
          case None => ctx.out.recalls.add(Check.recall(ctx.corpus, qv, hs, ctx.truth(qi)))
        }
      }
    }
  }
}
