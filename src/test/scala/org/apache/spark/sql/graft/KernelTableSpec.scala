package org.apache.spark.sql.graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** Every row of the native kernel table, driven directly over
  * `BoundReference`s (no session): interpreted `eval` must equal the
  * generated `UnsafeProjection` bit for bit, the explain name and string
  * must stay what the per-kernel expression classes printed, and the
  * SQL-registered name set must stay fixed. The other expression specs
  * go through the Column API, i.e. through codegen only. */
class KernelTableSpec extends AnyFunSuite {

  private case class Sample(pretty: String, inputs: Seq[(DataType, Any)], params: Seq[Any] = Nil)

  private val text = "the quick brown fox jumps over the lazy dog the quick brown fox sleeps"
  private val vecA = Array(0.5f, -1.25f, 2.0f, 0.0f, 3.5f, -0.75f, 1.0f, 4.25f)
  private val vecB = Array(1.5f, 0.25f, -2.0f, 1.0f, 0.5f, 2.75f, -1.0f, 0.125f)
  private val bytes = Array[Byte](1, 2, -3, 4, 5, -6, 7, 8, 9, -10)
  private val FloatVec = ArrayType(FloatType, containsNull = false)
  private val LongVec = ArrayType(LongType, containsNull = false)
  private val bloom = {
    val bf = BloomFilter.create(100, 0.01)
    Seq(3L, 42L).foreach(bf.putLong)
    bf
  }
  // pq: m = 2 subspaces × k = 2 codes × subDim 4
  private val codebook = vecA ++ vecB
  private val mmrCandidates = (ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("emb", FloatVec)))),
    Seq(Row(1L, 0.9, vecA), Row(2L, 0.8, vecB), Row(3L, 0.7, vecA)))

  private val samples: Map[String, Sample] = Map(
    "token_shingle_hashes" -> Sample("tokenshinglehashes", Seq(StringType -> text), Seq(3)),
    "token_window_hashes" -> Sample("token_window_hashes", Seq(StringType -> text), Seq(4)),
    "minhash_signature" ->
      Sample("minhashsignature", Seq(LongVec -> Seq(3L, 7L, 11L, 42L)), Seq(16)),
    "simhash_md5" -> Sample("simhashmd5", Seq(StringType -> text)),
    "normalize_text" -> Sample("normalizetext", Seq(StringType -> "  Hello, World!!  x ")),
    "winnow_fingerprints" -> Sample("winnowfingerprints", Seq(StringType -> text), Seq(8, 4)),
    "deletion_variant_hashes" -> Sample("deletionvarianthashes", Seq(StringType -> "café")),
    "gopher_repetition_stats" -> Sample("gopher_repetition_stats", Seq(StringType -> text)),
    "dup_span_rewrite" -> Sample("dup_span_rewrite", Seq(StringType -> text), Seq(3)),
    "cdc_chunk_hashes_md5" -> Sample("cdc_chunk_hashes_md5", Seq(StringType -> text), Seq(4, 3)),
    "bloom_count_hits" ->
      Sample("bloomcounthits", Seq(LongVec -> Seq(3L, 5L, 42L)), Seq(bloom)),
    "count_sketch_pairs" -> Sample("count_sketch_pairs", Seq(LongType -> 12345L), Seq(3, 16)),
    "vec_cosine" -> Sample("floatveccosine", Seq(FloatVec -> vecA, FloatVec -> vecB)),
    "vec_dot" -> Sample("floatvecdot", Seq(FloatVec -> vecA, FloatVec -> vecB)),
    "vec_norm" -> Sample("floatvecnorm", Seq(FloatVec -> vecA)),
    "vec_srp_md5" -> Sample("floatvecsrpmd5", Seq(FloatVec -> vecA), Seq(32)),
    "long_vec_dot" -> Sample("longvecdot", Seq(LongVec -> Seq(1L, -2L, 3L), LongVec -> Seq(4L, 5L, 6L))),
    "sorted_intersect_count" ->
      Sample("sortedintersectcount", Seq(LongVec -> Seq(3L, 7L, 42L), LongVec -> Seq(7L, 8L, 42L))),
    "known_elements_not_null" ->
      Sample("known_elements_not_null", Seq(ArrayType(LongType) -> Seq(1L, 2L, 3L))),
    "int8_quantize" -> Sample("int8quantize", Seq(FloatVec -> vecA), Seq(Array.fill(8)(4.5f))),
    "int8_vec_dot" -> Sample("int8vecdot", Seq(BinaryType -> bytes, BinaryType -> bytes.reverse)),
    "nearest_pivots" -> Sample("nearestpivots", Seq(FloatVec -> vecA), Seq(vecA ++ vecB, 8, 2)),
    "mmr_select" -> Sample("mmrselect", Seq(mmrCandidates), Seq(2, 500)),
    "pq_encode" -> Sample("pqencode", Seq(FloatVec -> vecB), Seq(codebook, 2, 2)),
    "pq_adc_lut" -> Sample("pqadclut", Seq(FloatVec -> vecB), Seq(codebook, 2, 2)),
    "pq_adc_score" -> Sample("pqadcscore", Seq(BinaryType -> Array[Byte](0, 1),
      ArrayType(DoubleType, containsNull = false) -> Seq(0.5, -1.0, 2.0, 0.25, 1.0, 4.0, 9.0, 0.5))),
    "zorder_key" -> Sample("zorderkey", Seq(IntegerType -> 5, LongType -> 3L), Seq(16)),
    "pcm_i16le_stats" -> Sample("pcmi16lestats", Seq(BinaryType -> bytes)),
    "pcm_downsample2" -> Sample("pcm_downsample2", Seq(BinaryType -> bytes)))

  /** Comparable form of a Scala-side value: binaries by content, doubles
    * by bits. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def build(name: String, s: Sample): (Expression, InternalRow) = {
    val refs = s.inputs.zipWithIndex.map { case ((dt, _), i) => BoundReference(i, dt, nullable = true) }
    val row = InternalRow.fromSeq(s.inputs.map { case (dt, v) =>
      CatalystTypeConverters.createToCatalystConverter(dt)(v) })
    (Kernels.expression(name, refs, s.params), row)
  }

  test("every table row has a sample, and every sample a row") {
    assert(samples.keySet === Kernels.table.map(_.name).toSet)
    assert(Kernels.table.map(_.name).distinct.size === Kernels.table.size)
  }

  for ((name, s) <- samples.toSeq.sortBy(_._1)) {
    test(s"$name: interpreted eval equals generated code; explain name unchanged") {
      val (expr, row) = build(name, s)
      assert(expr.checkInputDataTypes().isSuccess, expr.checkInputDataTypes())
      assert(expr.prettyName === s.pretty)
      assert(expr.toString ===
        s"${s.pretty}(${(expr.children.map(_.toString) ++ s.params.map(_.toString)).mkString(", ")})")
      val toScala = CatalystTypeConverters.createToScalaConverter(expr.dataType)
      val interpreted = expr.eval(row)
      assert(interpreted != null)
      val generated = GenerateUnsafeProjection.generate(Seq(expr)).apply(row).get(0, expr.dataType)
      assert(norm(toScala(interpreted)) === norm(toScala(generated)))
      // task serialization: the row is looked up again by name
      val bos = new java.io.ByteArrayOutputStream()
      new java.io.ObjectOutputStream(bos).writeObject(expr)
      val copy = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[Expression]
      assert(norm(toScala(copy.eval(row))) === norm(toScala(interpreted)))
    }
  }

  test("SQL registration: the 19 registered scalar kernels plus the 4 top-k aggregates") {
    val names = functions.sqlBuilders.map(_._1)
    assert(names.size === names.distinct.size)
    assert(names.toSet === Set(
      "token_shingle_hashes", "token_window_hashes", "minhash_signature", "simhash_md5",
      "vec_cosine", "vec_dot", "vec_norm", "int8_vec_dot", "sorted_intersect_count",
      "vec_srp_md5", "normalize_text", "gopher_repetition_stats", "dup_span_rewrite",
      "cdc_chunk_hashes_md5", "zorder_key", "winnow_fingerprints",
      "deletion_variant_hashes", "pcm_i16le_stats", "pcm_downsample2",
      "top_k_struct", "top_k_struct_distinct", "top_k_pair", "top_k_pair_distinct"))
  }

  test("SQL builders take the row's inputs plus at most its literal parameters") {
    val build = functions.sqlBuilders.toMap
    val x = BoundReference(0, StringType, nullable = true)
    assert(build("token_shingle_hashes")(Seq(x)) ===
      Kernels.expression("token_shingle_hashes", Seq(x), Seq(3)))
    assert(build("winnow_fingerprints")(Seq(x, Literal(16))) ===
      Kernels.expression("winnow_fingerprints", Seq(x), Seq(16, 8)))
    val e = intercept[IllegalArgumentException](build("simhash_md5")(Seq(x, Literal(1))))
    assert(e.getMessage.contains("simhash_md5 takes 1 input"))
  }
}
