package graft

/** Probe's modes against the shared session: each prints its result
  * lines, and none stops the session it was handed, leaves blocks in it
  * or drops a checkpoint the caller still holds. */
class ProbeSpec extends SparkSpec {

  private def probe(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    // the caller's checkpoint: its blocks are the only copy of its rows
    val mine = spark.range(100).toDF("x").localCheckpoint(true)
    val mineRdd = mine.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.head
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try Console.withOut(buf)(Probe.run(spark, args.toArray))
    finally {
      assert(!spark.sparkContext.isStopped)
      val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
      assert((after -- before).isEmpty)
      assert(after.contains(mineRdd.id))
      assert(mine.count() === 100)
      mineRdd.unpersist(blocking = false)
    }
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("time: one wall line per rep") {
    val out = probe("time", "v_norm", sfDir, "2")
    assert(out.count(_.matches("""PROBE time v_norm rep[01] \d+\.\d{3} s""")) === 2,
      out.mkString("\n"))
  }

  test("jobs: one line per job of the warm run, then the total") {
    val out = probe("jobs", "v_norm", sfDir)
    val total = out.filter(_.startsWith("PROBE jobs v_norm wall "))
    assert(total.size === 1, out.mkString("\n"))
    val n = total.head.split(" ").last.toInt
    assert(n > 0)
    assert(out.count(_.startsWith("PROBE jobs job ")) === n)
  }

  test("explain: a header and a physical plan per named entry") {
    val out = probe("explain", sfDir, "v_norm", "q1_pricing_summary")
    assert(out.contains("PROBE explain ===== v_norm ====="))
    assert(out.contains("PROBE explain ===== q1_pricing_summary ====="))
    assert(out.count(_.contains("== Physical Plan ==")) === 2, out.mkString("\n"))
  }

  test("an unknown mode is refused with the usage pointer") {
    val ex = intercept[IllegalArgumentException](probe("nope"))
    assert(ex.getMessage.contains("graft.Probe"))
  }
}
