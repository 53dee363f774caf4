package graft

import java.nio.file.Files

import graft.queries.{DedupQueries, TextQueries}

class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  test("t_repetition: repeated-phrase doc scores high, diverse doc scores low") {
    val dir = Files.createTempDirectory("graft_rep").toString
    Seq(
      // "buy now" repeated 6x: 12 tokens, 2 distinct
      (1L, "buy now buy now buy now buy now buy now buy now", "en", "web", 47L),
      // 10 distinct tokens, no repetition
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "web", 55L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = TextQueries.all("t_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap

    val (n1, dup1, topw1, topb1) = rows(1L)
    assert(n1 === 12L)
    assert(dup1 === math.rint((12.0 - 2) / 12 * 1e4) / 1e4) // 0.8333
    assert(topw1 === 0.5)                                   // "buy" 6/12
    assert(topb1 === math.rint(6.0 / 11 * 1e4) / 1e4)       // "buy now" 6/11

    val (n2, dup2, topw2, topb2) = rows(2L)
    assert(n2 === 10L)
    assert(dup2 === 0.0)
    assert(topw2 === 0.1)
    assert(topb2 === math.rint(1.0 / 9 * 1e4) / 1e4)
  }

  test("d_substring_dedup: planted shared 12-word span is found; unique doc is clean") {
    val dir = Files.createTempDirectory("graft_ssd").toString
    val span = (1 to 12).map(i => s"shared$i").mkString(" ")
    Seq(
      (1L, s"u1a u1b u1c u1d $span", "en", "web", 0L),    // span at tokens 5..16 of 16
      (2L, s"$span u2a u2b u2c u2d", "en", "web", 0L),    // span at tokens 1..12 of 16
      (3L, (1 to 16).map(i => s"only$i").mkString(" "), "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = DedupQueries.all("d_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap

    // 16 tokens → 9 shingles; the 12-word span hosts 5 whole 8-word
    // windows, covering its 12 tokens → dup_token_frac = 12/16.
    assert(rows(1L) === ((9L, 5L, 0.75)))
    assert(rows(2L) === ((9L, 5L, 0.75)))
    assert(rows(3L) === ((9L, 0L, 0.0)))
  }

  test("t_pii_scrub: planted emails/IPs/phones are redacted, clean text untouched") {
    val dir = Files.createTempDirectory("graft_pii").toString
    Seq(
      (1L, "contact alice.b+test@example.org or 10.0.42.7 or +1555 123 4567 now", "en", "web", 0L),
      (2L, "nothing sensitive in this perfectly ordinary sentence", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = TextQueries.all("t_pii_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(1L)._1 === 3L) // one of each kind
    assert(rows(2L)._1 === 0L)
    // and the scrubbed text really lost the PII: its fingerprint equals
    // the fingerprint of the hand-redacted string
    val expected = Seq(
      (0L, "contact [EMAIL] or [IP] or +1[PHONE] now"))
      .toDF("i", "t")
      .select(GraftText.rollingHash64($"t")).head().getLong(0)
    val actual = TextQueries.all("t_pii_scrub")(spark, dir)
      .filter($"doc_id" === 1L).head().getLong(3)
    assert(actual === expected)
  }

  test("DetMath.log2Det matches true log2 to 1e-7 over integer inputs") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 5000).toDF("id")
      .union(spark.range(0, 40).toDF("e").select(
        pow(lit(2.0), $"e".cast("double")).cast("long").as("id")))
      .select($"id", graft.functions.DetMath.log2Det($"id").as("lg"))
    val bad = df.collect().filter { r =>
      val c = r.getLong(0); val lg = r.getDouble(1)
      math.abs(lg - math.log(c.toDouble) / math.log(2.0)) > 1e-7
    }
    assert(bad.isEmpty, s"log2Det off: ${bad.take(3).mkString(",")}")
  }

  test("t_unigram_logprob: common-token doc scores below rare-token doc") {
    val dir = Files.createTempDirectory("graft_lp").toString
    Seq(
      (1L, "common common common common", "en", "web", 0L),
      (2L, "common rare1 rare2 rare3", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = TextQueries.all("t_unigram_logprob")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: common=5, rare*=1 each, N=8
    val lg = (x: Double) => math.log(x) / math.log(2.0)
    assert(rows(1L)._1 === 4L)
    assert(math.abs(rows(1L)._2 - lg(8.0 / 5)) < 1e-3)
    assert(math.abs(rows(2L)._2 - (lg(8.0 / 5) + 3 * lg(8.0)) / 4) < 1e-3)
    assert(rows(1L)._2 < rows(2L)._2)
  }

  test("t_filter_gate: each rule fires on its planted doc, in declared order") {
    val w = (0 until 60).map(i => s"w$i")
    val docs = Seq(
      (1L, (w.take(59) :+ "the").mkString(" ")), // clean: keep
      (2L, "the and of"), // short (stopwords present, so only short)
      (3L, Seq.fill(40)("the").mkString(" ")), // repetitive only
      (4L, w.take(40).mkString(" ")), // no_lang only
      (5L, (w.take(40) :+ "the" :+ "bob@example.com").mkString(" ")), // pii
      (6L, "xx xx xx")) // short + repetitive + no_lang, ordered
      .toDF("doc_id", "text")
    val res = graft.queries.TextQueries.filterGateRaw(docs)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3))))
      .toMap
    assert(res(1L) === (("", true)))
    assert(res(2L) === (("short", false)))
    assert(res(3L) === (("repetitive", false)))
    assert(res(4L) === (("no_lang", false)))
    assert(res(5L) === (("pii", false)))
    assert(res(6L) === (("short,repetitive,no_lang", false)))
  }

  test("rle_runs encodes sorted runs and refuses a null-bearing element type") {
    import org.apache.spark.sql.functions.{array, lit}
    val runs = spark.range(1)
      .select(TextQueries.rleRuns(array(lit(1L), lit(1L), lit(3L))))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(runs === Seq((1L, 2L), (3L, 1L)))
    // a null slot would read back as an arbitrary bucket value
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(TextQueries.rleRuns(
        array(lit(1L), lit(null).cast("long"))))
    }
    assert(ex.getMessage.contains("rle_runs"), ex.getMessage)
  }
}
