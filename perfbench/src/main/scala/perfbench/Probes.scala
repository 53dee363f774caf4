package perfbench

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftVector
import graft.functions.{VectorKernels, VectorSimd}
import graft.operators.{GraphSearch, IndexStore, IvfIndex, KnnSearch}
import graft.streaming.{IngestServer, SearchServer}

/** Layer probes of the traced run: each times calls into one layer's
  * public functions on the run's corpus and stores, from outside. They
  * run after the measured window, so they never touch its numbers. */
object Probes {
  /** Entries of SparkEntry.queries that run on the vector corpus alone. */
  val QueryEntries = Seq("v_norm", "v_l2_distance", "v_centroids", "v_knn_bruteforce")
  val ProbeQueries = 100
  // the library's own graph-search settings (the v_graph_search entry)
  val GraphEf = 16
  val GraphHops = 3
  val InsertBatches = 16
  val InsertRows = 8

  private def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Single-thread Meval/s of a kernel over the corpus arrays. */
  private def kernelMevalS(ctx: Ctx, f: (Array[Float], Array[Float]) => Double): Double = {
    val base = ctx.corpus.base
    val probe = ctx.corpus.queries(0)
    var sink = 0.0
    def pass(): Unit = { var i = 0; while (i < base.length) { sink += f(probe, base(i)); i += 1 } }
    pass() // warm the JIT
    var evals = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) { pass(); evals += base.length }
    val s = (System.nanoTime() - t0) / 1e9
    if (sink == -1.0) println(sink)
    evals / s / 1e6
  }

  def run(ctx: Ctx, ivfDir: String): Unit = {
    val spark = ctx.spark
    val l = ctx.out.layer
    val tr = ctx.tracer
    tr.span("probes") { root =>
      ctx.meter.parentForJobs(root)
      // functions
      l("functions.l2_simd_meval_s") = tr.span("functions.VectorSimd.l2sqV", root)(_ =>
        kernelMevalS(ctx, VectorSimd.l2sqV))
      l("functions.l2_scalar_meval_s") = tr.span("functions.VectorKernels.l2sqF", root)(_ =>
        kernelMevalS(ctx, VectorKernels.l2sqF))
      val corpus = spark.read.parquet(s"${ctx.corpusDir}/embeddings.parquet")
      val rep = math.max(1, 2000000 / ctx.corpus.n)
      val probeV = typedLit(ctx.corpus.queries(0).toSeq)
      val scan = corpus.select(col("embedding"))
        .crossJoin(broadcast(spark.range(rep).toDF("r")))
        .select(GraftVector.l2Sq(col("embedding"), probeV).as("d"))
      val scanS = Stats.median((1 to 3).map(_ =>
        tr.span("functions.GraftVector.l2Sq", root)(_ => timeS(noop(scan)))))
      l("functions.l2_scan_meval_s") = ctx.corpus.n.toDouble * rep / scanS / 1e6

      // operators: exact kNN split into the pair scan and the top-k
      val q = ctx.queriesDf(0 until ProbeQueries)
      val pairS = Stats.median((1 to 3).map(_ =>
        tr.span("operators.knn_pair_scan", root)(_ => timeS(noop(
          corpus.crossJoin(broadcast(q))
            .select(col("query_id"), GraftVector.l2Sq(col("embedding"), col("qv"))))))))
      val exactS = Stats.median((1 to 3).map(_ =>
        tr.span("operators.KnnSearch.searchBatched", root)(_ => timeS(noop(
          KnnSearch.searchBatched(corpus, q, "vec_id", "embedding", Workloads.K, 1))))))
      l("operators.knn_pair_scan_s") = pairS
      l("operators.knn_topk_s") = exactS - pairS

      // operators: the serving path's two halves at batch 1 and 32
      ivfFramesAndJob(ctx, ivfDir, root)

      // operators: the graph family's stores and one graph call
      val t0 = System.nanoTime()
      val graphIvf = tr.span("operators.IndexStore.graphIvf", root)(_ =>
        IndexStore.graphIvf(spark, ctx.corpusDir))
      val t1 = System.nanoTime()
      val graphDir = tr.span("operators.IndexStore.knnGraph", root)(_ =>
        IndexStore.knnGraph(spark, ctx.corpusDir))
      l("operators.graph_ivf_build_s") = (t1 - t0) / 1e9
      l("operators.graph_build_s") = (System.nanoTime() - t1) / 1e9
      val j0 = ctx.meter.snapshot().jobs
      tr.span("operators.GraphSearch.search", root)(_ =>
        GraphSearch.search(spark, graphIvf, graphDir,
          ctx.corpusDf.select(col("vec_id"), col("embedding")), ctx.queriesDf(0 until 32),
          Workloads.K, GraphEf, GraphHops).collect())
      l("operators.graph_jobs_per_call") = (ctx.meter.snapshot().jobs - j0).toDouble

      // streaming: the serving front ends on the run's IVF store
      serving(ctx, ivfDir, root)

      // queries: fixed entries on the corpus directory
      val walls = QueryEntries.map { name =>
        val f = graft.SparkEntry.queries(name)
        val s = tr.span(s"queries.$name", root)(_ => timeS(noop(f(spark, ctx.corpusDir))))
        l(s"queries.${name}_s") = s
        s
      }
      l("queries.tail_s") = walls.sum
    }
  }

  private def await[T](f: Future[T]): T = Await.result(f, Duration(120, "s"))

  /** SearchServer and IngestServer on the store: sequential single-query
    * searches (each its own batch), then a burst of 8-row inserts whose
    * vectors must come back at rank 1 (read-your-writes), then the
    * store's write buffer and file count. */
  private def serving(ctx: Ctx, ivfDir: String, root: Long): Unit = {
    val c = ctx.corpus
    val l = ctx.out.layer
    val search = new SearchServer(ctx.spark, ivfDir, Workloads.K, Workloads.Nprobe)
    val ingest = new IngestServer(ctx.spark, ivfDir, startSeq = 1L)
    try {
      await(search.search(c.queries(0)))
      val walls = (1 to 5).map { i =>
        ctx.tracer.span("streaming.SearchServer.search", root, i) { _ =>
          val t0 = System.nanoTime()
          val hs = await(search.search(c.queries(i))).map(h => Hit(h.neighborId, h.rnk, h.dist))
          Check.valid(c, c.queries(i), hs, Workloads.K).foreach(e => ctx.out.error(s"served search $i: $e"))
          (System.nanoTime() - t0) / 1e6
        }
      }
      l("streaming.search_ms") = Stats.median(walls)
      val batches = (0 until InsertBatches).map(i =>
        (i * InsertRows until (i + 1) * InsertRows).map(j => (c.n.toLong + j, c.inserts(j).toSeq)))
      ctx.tracer.span("streaming.IngestServer.insert", root)(_ =>
        batches.map(ingest.insert).foreach(await(_)))
      val (nBatches, reqs, waitS, commitS) = ingest.splitStats
      l("streaming.insert_batches") = nBatches.toDouble
      l("streaming.insert_queue_wait_ms_mean") = waitS * 1000 / math.max(1L, reqs)
      l("streaming.insert_commit_ms_mean") = commitS * 1000 / math.max(1L, nBatches)
      batches.indices.filter(_ % 4 == 0).map(i => batches(i).head._1)
        .map(id => (id, search.search(c.vector(id)))).foreach { case (id, f) =>
          if (await(f).headOption.forall(h => h.neighborId != id || h.rnk != 1L))
            ctx.out.error(s"inserted $id not served at rank 1")
        }
    } finally { ingest.close(); search.close() }
    def files(f: File): Int =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) 1 else 0 }
      else Option(f.listFiles).map(_.map(files).sum).getOrElse(0)
    l("streaming.index_files_end") = files(new File(ivfDir)).toDouble
    l("streaming.delta_rows_end") = graft.streaming.IvfDeltaIngest
      .deltaLatest(ctx.spark, ivfDir).map(_.count()).getOrElse(0L).toDouble
  }

  /** The direct IvfIndex.searchPrunedFrames call (plan building) and its
    * collect (the job), for batches of 1 and 32 queries, as the serving
    * front end issues them; plus probed candidates per query. */
  private def ivfFramesAndJob(ctx: Ctx, ivfDir: String, root: Long): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val cents = spark.read.parquet(s"$ivfDir/centroids")
      .select(col("cluster_id").cast("int"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val pop = spark.read.parquet(s"$ivfDir/assignments").groupBy("cluster_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    var candidates = 0L
    var queries = 0L
    for (b <- Seq(1, 32)) {
      val runs = (0 until 5).map { rep =>
        val qi = (0 until b).map(j => (rep * b + j) % ctx.corpus.queries.length)
        val probeRows = qi.flatMap { i =>
          val qv = ctx.corpus.queries(i)
          cents.map { case (cid, cv) => (VectorKernels.l2sqF(qv, cv), cid) }
            .sorted.take(Workloads.Nprobe).map { case (_, cid) => (i.toLong, qv.toSeq, cid) }
        }
        candidates += probeRows.map(r => pop.getOrElse(r._3, 0L)).sum
        queries += b
        val probeIds = probeRows.map(_._3).distinct.sorted
        val t0 = System.nanoTime()
        val df = ctx.tracer.span(s"operators.IvfIndex.searchPrunedFrames.b$b", root)(_ =>
          IvfIndex.searchPrunedFrames(spark, ivfDir, ctx.queriesDf(qi),
            probeRows.toDF("query_id", "qv", "cluster_id"), probeIds, Workloads.K))
        val t1 = System.nanoTime()
        ctx.tracer.span(s"operators.collect.b$b", root)(_ => df.collect())
        ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      }
      ctx.out.layer(s"operators.ivf_frames_ms.b$b") = Stats.median(runs.map(_._1))
      ctx.out.layer(s"operators.ivf_job_ms.b$b") = Stats.median(runs.map(_._2))
    }
    ctx.out.layer("operators.ivf_candidates_per_query") = candidates.toDouble / queries
  }
}
