package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.storage.StorageLevel

/** GraftCachedBatchSerializer round-trip laws: caching must never change
  * what a plan computes — for the flat-float fast path (vector frames),
  * the delegated default path (string-bearing frames), and the mixed
  * shape (ineligible cache schema, eligible selection) that exercises
  * the columnar rebuild fallback. SparkSpec's session registers the
  * serializer, so the whole suite (and the oracle gate) already runs
  * over it; these tests pin the tricky layouts directly. */
class CacheSerializerSpec extends SparkSpec {

  /** Bit-level normalizer so NaN == NaN and -0.0 != 0.0 in compares. */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm)
    case a: scala.collection.Seq[_] => a.map(norm)
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f)
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  private def assertCacheTransparent(df: DataFrame): Unit = {
    val plain = df.collect().map(r => norm(r.toSeq)).toSeq
    val cached = df.cache()
    try {
      val viaCache = cached.collect().map(r => norm(r.toSeq)).toSeq
      assert(viaCache === plain)
      // a second consumer with a projection reads the same blocks
      val cols = df.columns
      val proj = cached.select(cols.reverse.map(col): _*).collect()
        .map(r => norm(r.toSeq)).toSeq
      val projPlain = df.select(cols.reverse.map(col): _*).collect()
        .map(r => norm(r.toSeq)).toSeq
      assert(proj === projPlain)
    } finally cached.unpersist(true)
  }

  test("fast path: float-vector frame round-trips exactly") {
    val e = Tables.load(spark, sfDir, "embeddings")
    assert(graft.functions.GraftCachedBatchSerializer.eligible(
      e.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(e)
  }

  test("fast path: nulls in rows, elements, and atomics round-trip") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, Array[java.lang.Float])](
      (1L, Array[java.lang.Float](1.0f, 2.0f)),
      (null, Array[java.lang.Float](3.0f, null, -0.0f)),
      (3L, null),
      (4L, Array.empty[java.lang.Float]),
      (5L, Array[java.lang.Float](Float.NaN, Float.MinPositiveValue)))
      .toDF("id", "vec")
    assert(graft.functions.GraftCachedBatchSerializer.eligible(
      df.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(df)
  }

  test("fast path: frames larger than one batch round-trip") {
    import spark.implicits._
    val df = spark.range(25000)
      .select($"id",
        transform(sequence(lit(0), pmod($"id", lit(5)).cast("int")),
          i => (i + $"id").cast("float")).as("vec"),
        ($"id" % 3 === 0).as("flag"),
        ($"id" * 1.5).as("d"),
        $"id".cast("int").as("i"),
        $"id".cast("float").as("f"))
    assertCacheTransparent(df)
  }

  test("delegation: string-bearing frames keep the default serializer") {
    val docs = Tables.load(spark, sfDir, "documents")
    assert(!graft.functions.GraftCachedBatchSerializer.eligible(
      docs.schema.fields.toSeq.map(_.dataType)))
    assertCacheTransparent(docs)
  }

  test("mixed shape: ineligible cache schema, eligible selection (rebuild fallback)") {
    import spark.implicits._
    val df = spark.range(500)
      .select($"id", concat(lit("s"), $"id").as("s"),
        array($"id".cast("float"), lit(2.5f)).as("vec"),
        ($"id" % 100).cast("byte").as("b"), ($"id" % 1000).cast("short").as("h"))
    val cached = df.cache()
    try {
      cached.count() // populate with the DELEGATED (default) format
      val sel = cached.select($"vec", $"id").collect().map(_.toSeq).toSeq
      val plain = df.select($"vec", $"id").collect().map(_.toSeq).toSeq
      assert(sel === plain)
    } finally cached.unpersist(true)
    // the serializer's columnar contract on the delegated batches: every
    // selection it reports columnar-capable must decode to the same rows
    // — array<float> through the rebuild, byte/short through the default
    val ser = new graft.functions.GraftCachedBatchSerializer
    val attrs = df.queryExecution.analyzed.output
    val batches = ser.convertInternalRowToCachedBatch(df.queryExecution.toRdd,
      attrs, StorageLevel.MEMORY_ONLY, SQLConf.get)
    Seq(Seq("vec", "id"), Seq("b", "h", "id")).foreach { names =>
      val selected = names.map(n => attrs.find(_.name == n).get)
      assert(ser.supportsColumnarOutput(DataTypeUtils.fromAttributes(selected)))
      val types = selected.map(_.dataType).toArray
      val viaColumnar = ser
        .convertCachedBatchToColumnarBatch(batches, attrs, selected, SQLConf.get)
        .flatMap(CacheSerializerSpec.rowValues(_, types)).collect()
        .map(norm).toSeq
      val plainRows = df.select(names.map(col): _*).collect()
        .map(r => norm(r.toSeq)).toSeq
      assert(viaColumnar === plainRows, s"selection $names")
    }
  }

  test("fast path: filters over the cached frame are applied downstream") {
    import spark.implicits._
    val e = Tables.load(spark, sfDir, "embeddings").cache()
    try {
      val filtered = e.filter($"vec_id" < 8).collect().map(_.toSeq).toSeq
      val plain = Tables.load(spark, sfDir, "embeddings")
        .filter($"vec_id" < 8).collect().map(_.toSeq).toSeq
      assert(filtered === plain)
      assert(filtered.nonEmpty)
    } finally e.unpersist(true)
  }
}

object CacheSerializerSpec {
  /** A decoded batch's rows as plain values, read per declared type
    * (runs executor-side, hence outside the spec instance). */
  def rowValues(b: ColumnarBatch, types: Array[DataType]): Iterator[Seq[Any]] =
    b.rowIterator().asScala.map { r =>
      types.indices.map { i =>
        types(i) match {
          case ByteType => r.getByte(i)
          case ShortType => r.getShort(i)
          case LongType => r.getLong(i)
          case ArrayType(FloatType, _) => r.getArray(i).toFloatArray.toSeq
          case other => throw new IllegalArgumentException(s"unread type $other")
        }
      }
    }
}
