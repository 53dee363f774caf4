package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The one routing law for graft's driver-vs-distributed twins: a
  * bounded input runs the driver twin (one collect, then driver
  * arithmetic instead of per-round Spark jobs), a corpus-scaled input
  * runs the distributed path — the one a 100 TB input takes. The
  * path-law specs (`SparkSpec.routeLaw`) pin both paths equal.
  *
  * `-Dgraft.route.distributed=true` makes every route take its
  * distributed side (no driver twin, no size-gated broadcast hint, no
  * ConnectedComponents small finish), so the oracle gate can run those
  * paths on small data. Contract guards are not routes and ignore it:
  * GraphSearch's bounded-batch `require`, serving's always-driver
  * resolve. */
object Route {

  /** Beam |Q| for GraphSearch's driver rounds. Per round the driver
    * holds |Q|·ef·(deg+1) rows: 1024 × ef 24 × 6 ≈ 150 k, ~15 MB.
    * MmrSelect's candidate cap is this × nCandidates vector rows:
    * 1024 × 30 × a 64-float row ≈ 10 MB. */
  val BeamMaxQ = 1024

  /** Perceptron docs for t_quality_classifier's driver rounds. A doc is
    * ≤ 65 (bucket, count) structs, up to ~4 KB as boxed Rows: a few GB
    * of transient driver heap at 1 M docs in the worst case. */
  val QualityMaxDocs = 1_000_000

  /** Textrank edges for the driver power iteration: (src, dst, w, wdeg)
    * rows of ~150 B, ~150 MB at 1 M. */
  val TextrankMaxEdges = 1_000_000

  /** Broadcast hint on the distributed beam's |Q|·ef rows: 16 B each,
    * ≤ 0.8 GB built on the driver, under Spark's 8 GB relation cap. */
  val BeamBroadcastMaxRows = 50_000_000L

  /** Broadcast hint on incremental dedup's batch key set: ~48 B rows,
    * ≤ 0.4 GB built on the driver. */
  val DedupBroadcastMaxRows = 8_000_000L

  private def distributed: Boolean =
    sys.props.get("graft.route.distributed").contains("true")

  /** The bounded probe, switch-blind: one `limit(max+1).collect()`,
    * Some(rows) when `df` has at most `max` rows — then the probe IS
    * the collect the driver path needs. */
  def bounded(df: DataFrame, max: Int): Option[Array[Row]] = {
    val head = df.limit(max + 1).collect()
    if (head.length <= max) Some(head) else None
  }

  /** The driver twin's rows when `df` fits, else None (distributed). */
  def collectIfSmall(df: DataFrame, max: Int): Option[Array[Row]] =
    if (distributed) None else bounded(df, max)

  /** A counted size fits a driver-side limit (small finish, broadcast). */
  def fits(size: Long, max: Long): Boolean = !distributed && size <= max
}
