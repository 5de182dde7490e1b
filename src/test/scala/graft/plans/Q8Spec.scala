package graft.plans

import graft.SparkTestBase
import graft.operators.SimilarityOps
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** graft_q8_pack / graft_q8_dot — int8 embedding quantization.
  * Correctness of the exact floor-rule codes (driver-side byte-for-byte
  * recompute over the real fixture), codegen participation + interpreted
  * agreement, null/zero/mismatch semantics, and the properties the int8
  * index is FOR: bounded cosine approximation error and full top-k recall
  * at fixture scale.
  */
class Q8Spec extends SparkTestBase {
  import spark.implicits._

  private def packRef(xs: Array[Double]): Array[Byte] = {
    val ma = xs.foldLeft(0.0)((m, v) => math.max(m, math.abs(v)))
    if (ma == 0.0) new Array[Byte](xs.length)
    else xs.map(x => math.floor(x * 127.0 / ma + 0.5).toByte)
  }

  test("known-vector codes: extremes hit ±127, zero stays 0") {
    val r = spark.sql(
      "SELECT graft_q8_pack(array(3.0d, -1.5d, 0.75d, 0.0d)) AS q").head()
    // 3.0 → floor(127.5) = 127; -1.5 → floor(-63.5 + 0.5) = -63;
    // 0.75 → floor(31.75 + 0.5) = 32; 0.0 → 0
    assert(r.getAs[Array[Byte]](0).toSeq == Seq[Byte](127, -63, 32, 0))
    assert(r.getAs[Array[Byte]](0).toSeq ==
      packRef(Array(3.0, -1.5, 0.75, 0.0)).toSeq)
  }

  test("null array → null; null element → null; length mismatch dot → null; zero vector packs to zero bytes") {
    val r = spark.sql(
      """SELECT
        |  graft_q8_pack(cast(null as array<double>))            AS nullarr,
        |  graft_q8_pack(array(1.0d, cast(null as double)))      AS nullelem,
        |  graft_q8_dot(graft_q8_pack(array(1.0d, 2.0d)),
        |               graft_q8_pack(array(1.0d)))              AS mismatch,
        |  graft_q8_pack(array(0.0d, 0.0d, 0.0d))                AS zero,
        |  graft_q8_dot(graft_q8_pack(array(1.0d, -2.0d)),
        |               graft_q8_pack(array(1.0d, -2.0d)))       AS selfdot
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getAs[Array[Byte]](3).toSeq == Seq[Byte](0, 0, 0))
    // [1,-2] → ma=2 → q=[64,-127] (floor(63.5+0.5)=64) → 64²+127²
    assert(r.getLong(4) == 64L * 64L + 127L * 127L)
  }

  test("pack and dot stay inside whole-stage codegen and agree with interpreted eval") {
    // Range source so ConvertToLocalRelation can't pre-fold the projection
    val df = spark.range(100)
      .selectExpr("array(cast(id as double), cast(id % 7 as double) - 3.0d, 5.0d) AS v")
      .selectExpr("v", "graft_q8_dot(graft_q8_pack(v), graft_q8_pack(v)) AS d")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_q8_pack") && plan.contains("*(1) Project"),
      s"q8 expressions should sit inside a whole-stage-codegen Project:\n$plan")
    df.collect().foreach { r =>
      val xs = r.getSeq[Double](0).toArray
      val q = packRef(xs)
      assert(r.getLong(1) == q.map(b => b.toLong * b.toLong).sum)
      // interpreted path: direct expression eval
      val lit = Literal.create(ArrayData.toArrayData(xs), ArrayType(DoubleType))
      val packed = Q8Pack(lit).eval(null).asInstanceOf[Array[Byte]]
      assert(packed.toSeq == q.toSeq, s"interpreted pack of ${xs.toSeq}")
      assert(Q8Dot(Literal(packed), Literal(packed)).eval(null) ==
        q.map(b => b.toLong * b.toLong).sum)
    }
  }

  test("fixture embeddings: packed bytes equal the floor-rule reference byte-for-byte") {
    import graft.functions.VectorFunctions.toDoubleArr
    val rows = t.embeddings
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("emb"),
        call_function("graft_q8_pack", toDoubleArr(col("embedding"))).as("q8"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = packRef(r.getSeq[Double](1).toArray)
      assert(r.getAs[Array[Byte]](2).toSeq == expect.toSeq,
        s"vec_id ${r.getLong(0)}")
    }
  }

  test("knnJoinQ8: buckets identical to the fp64 twin, ≥95% pair agreement, codes-only exchange") {
    val fp = SimilarityOps.knnJoinLsh(t, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q8df = SimilarityOps.knnJoinQ8(t, 3)
    val q8 = q8df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // same buckets, same per-vector candidate sets — only near-tie ranks
    // may swap under int8 scoring (observed 1484/1500 agreement at sf0.01)
    assert(q8.size == fp.size)
    val agree = (fp intersect q8).size.toDouble / fp.size
    info(f"fp64/int8 pair agreement ${agree * 100}%.1f%%")
    assert(agree >= 0.95, f"agreement $agree%.3f below 0.95")
    // the scale claim: the bucket exchange carries the packed codes, not
    // the fp64 arrays — no Exchange input column named emb
    val inputs = exchangeInputs(q8df)
    assert(inputs.nonEmpty)
    // the bucket exchange carries codes; the rank exchange carries only
    // (vec_id, neighbor_id, score); NO exchange may carry the fp64 array
    assert(inputs.exists(_.contains("q8#")),
      s"no exchange carries the packed codes:\n${inputs.mkString("\n")}")
    inputs.foreach { in =>
      assert(!in.contains("emb#"),
        s"an exchange still carries the fp64 embedding: $in")
    }
  }

  test("packed storage is ≥4x smaller than fp64 arrays on disk; scoring throughput at parity") {
    import org.apache.spark.sql.DataFrame
    val dim = 64
    // well-mixed values (~2^20 distinct) so parquet can't dictionary- or
    // RLE-compress either side — the ratio measures the raw byte widths
    def vec(id: Long): Array[Double] =
      Array.tabulate(dim) { j =>
        val h = id * 2654435761L + j * 1099511628211L
        ((h & 0xFFFFF).toDouble / 0x7FFFF.toDouble) - 1.0
      }
    val dense = spark.range(0, 100000).map(id => (id, vec(id))).toDF("id", "arr").cache()
    val packed = dense.select(col("id"),
      call_function("graft_q8_pack", col("arr")).as("q8")).cache()
    dense.count(); packed.count()
    def diskBytes(df: DataFrame): Long = {
      val dir = java.nio.file.Paths.get(graft.core.Tables.scratchDir("graft_q8_ab_"))
      df.write.mode("overwrite").parquet(dir.toString)
      val sz = dir.toFile.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
      sz
    }
    val dBytes = diskBytes(dense)
    val qBytes = diskBytes(packed)
    info(f"fp64 ${dBytes / 1e6}%.1f MB vs int8 ${qBytes / 1e6}%.1f MB " +
      f"(${dBytes.toDouble / qBytes}%.1fx)")
    // theoretical 8x minus parquet framing; ≥4x holds with margin — this
    // byte ratio IS the 100 TB claim (scan + shuffle + cache traffic)
    assert(dBytes > 4L * qBytes)
    // and int8 scoring must not cost throughput for the bytes it saves
    // (at 64 dims both scans are per-row-overhead-bound; the assertion
    // guards a regression, the byte ratio above carries the win)
    val qD = (0 until 16).map(i => Tuple1(vec(i * 13 + 5))).toDF("q_arr")
    val qQ = qD.select(call_function("graft_q8_pack", col("q_arr")).as("q_q8"))
    def time(f: => Unit): Long = { val t0 = System.nanoTime(); f; System.nanoTime() - t0 }
    def denseRun(): Unit = dense.crossJoin(broadcast(qD))
      .select(sum(call_function("graft_dot", col("arr"), col("q_arr")))).head()
    def q8Run(): Unit = packed.crossJoin(broadcast(qQ))
      .select(sum(call_function("graft_q8_dot", col("q8"), col("q_q8")))).head()
    denseRun(); q8Run()
    val tD = (1 to 3).map(_ => time(denseRun())).min
    val tQ = (1 to 3).map(_ => time(q8Run())).min
    info(f"dense ${tD / 1e6}%.1f ms vs q8 ${tQ / 1e6}%.1f ms (${tD.toDouble / tQ}%.2fx)")
    assert(tQ < tD * 3, f"q8 scoring regressed: ${tQ / 1e6}%.1f ms vs dense ${tD / 1e6}%.1f ms")
    dense.unpersist(); packed.unpersist()
  }

  test("quantizedTopK: 4x-packed scoring keeps full top-10 recall and ≤0.01 cosine error at fixture scale") {
    val brute = SimilarityOps.bruteForceTopK(t, 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = SimilarityOps.quantizedTopK(t, 0L, 10).collect()
    assert(quant.length == 10)
    // observed max |cos_q − cos| is ~2e-3 on both sf0.001 and sf0.01
    // (int8 on 64 dims; the worst-case bound is ≈ 2/127 ≈ 0.016);
    // 0.01 leaves headroom without letting a real regression through
    assert(quant.map(_.getDouble(4)).max <= 0.01)
    val hits = quant.map(_.getLong(0)).count(brute.contains)
    assert(hits == 10, s"quantized top-10 lost ${10 - hits} true neighbors")
    // scores arrive descending on the rounded quantized key
    val scores = quant.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
  }
}
