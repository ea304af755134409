package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer perceptual hash: basis/table properties, hash invariants, and
  * the pigeonhole exactness of the banded Hamming join.
  */
class PHashSpec extends SparkSpec {
  import sqlImplicits._

  test("cosine table is the scaled DCT-II basis (column 0 flat, symmetric)") {
    // u = 0 basis is constant Scale; row symmetry T[i][u] = ±T[7-i][u]
    (0 until 8).foreach { i =>
      assert(PHash.CosT(i)(0) == PHash.Scale)
      (0 until 8).foreach { u =>
        val sign = if (u % 2 == 0) 1L else -1L
        assert(PHash.CosT(i)(u) == sign * PHash.CosT(7 - i)(u),
          s"T($i)($u) vs T(${7 - i})($u)")
      }
    }
  }

  test("hash invariants: empty -> 0, deterministic, content-sensitive") {
    assert(PHash.hash(Array.emptyByteArray) == 0L)
    assert(PHash.hash(null) == 0L)
    val a = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    assert(PHash.hash(a) == PHash.hash(a.clone()))
    // a TINY perturbation ("dog" -> "cat") must NOT flip the hash — block
    // means barely move; that tolerance is the perceptual property
    val tiny = "the quick brown fox jumps over the lazy cat".getBytes("UTF-8")
    assert(java.lang.Long.bitCount(PHash.hash(a) ^ PHash.hash(tiny)) <= 7)
    // a structural change (doubled payload shifts every block boundary)
    // must move it far
    assert(java.lang.Long.bitCount(PHash.hash(a) ^ PHash.hash(a ++ a)) > 7)
    // hash uses only bits 0..62 — never negative
    assert(PHash.hash(a) >= 0L)
  }

  test("identical payloads collide at Hamming distance 0 through the " +
      "expression path") {
    val df = Seq((1L, "same payload"), (2L, "same payload"),
        (3L, "different bytes entirely"))
      .toDF("media_id", "s")
      .select(col("media_id"), PHash.pHash(encode(col("s"), "UTF-8")).as("ph"))
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("SQL registration works through GraftExtensions sessions") {
    // phash64 comes from GraftExtensions, which the shared session installs
    // through spark.sql.extensions exactly as Verify and Bench do
    Seq(Tuple1("the quick brown fox jumps over the lazy dog")).toDF("s")
      .createOrReplaceTempView("ph_test")
    val got = spark.sql("SELECT phash64(encode(s, 'UTF-8')) AS h FROM ph_test")
      .head().getLong(0)
    assert(got == PHash.hash(
      "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")))
  }

  test("q60c's banded Hamming join equals the all-pairs formulation on the " +
      "fixture (pigeonhole exactness at distance <= 7)") {
    val dir = "/root/testdata/sf0.001"
    val hashed = graft.queries.MultimodalQueries.syntheticMedia(spark, dir)
      .select(col("media_id"), PHash.pHash(col("content")).as("ph")).cache()
    val brute = hashed.toDF("id_a", "ph_a")
      .join(hashed.toDF("id_b", "ph_b"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("d"))
      .where(col("d") <= graft.queries.MultimodalQueries.PHashMaxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = graft.queries.MultimodalQueries.q60cPhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    hashed.unpersist(blocking = false)
    graft.CacheScope.releaseAll()
    assert(banded == brute)
    assert(brute.nonEmpty, "degenerate fixture: no near-dup payloads at all")
  }
}
