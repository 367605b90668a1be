package graft.sequences

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

class SequenceSynthSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val cfg = SequenceSynth.Config(rows = 20000)

  test("generation is deterministic: same config -> identical rows") {
    val a = SequenceSynth.sequences(spark, cfg)
    val b = SequenceSynth.sequences(spark, cfg)
    // full-row anti-join in both directions must be empty
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("per-row token-array equality: generator vs parquet readback (input_hint invariant)") {
    val dir = SharedSpark.tempDir("synth")
    SequenceSynth.write(spark, cfg, s"$dir/seqs", buckets = 4)
    val readback = spark.read.parquet(s"$dir/seqs")
    val expected = SequenceSynth.sequences(spark, cfg)
    // join on the row's identity; every row's token array must be equal
    val joined = readback.alias("r")
      .join(expected.alias("e"),
        col("r.doc_id") === col("e.doc_id") && col("r.n_tok") === col("e.n_tok")
          && col("r.source") === col("e.source")
          && col("r.tokens") <=> col("e.tokens"))
    assert(joined.count() >= cfg.rows) // dup doc_ids can multi-match; every row matched
    assert(readback.count() == cfg.rows)
  }

  test("schema matches the input hint (doc_id string, tokens array<int>, n_tok int, source string)") {
    val df = SequenceSynth.sequences(spark, cfg)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("doc_id") == "string")
    assert(types("tokens") == "array<int>")
    assert(types("n_tok") == "int")
    assert(types("source") == "string")
  }

  test("planted violation families have exactly the expected sizes") {
    val df = SequenceSynth.sequences(spark, cfg).cache()
    try {
      val exp = SequenceSynth.expectedViolationCounts(cfg)
      val dupKeys = df.groupBy("doc_id").count().filter(col("count") > 1).count()
      assert(dupKeys == exp("uniqueness"), "uniqueness")
      assert(df.filter(col("source") === "ghost").count() == exp("referential"), "referential")
      assert(df.filter(col("n_tok") =!= size(col("tokens"))).count() ==
        exp("ntok_mismatch"), "ntok_mismatch")
      assert(df.filter(exists(col("tokens"), t => t.isNull)).count() ==
        exp("null_token"), "null_token")
      assert(df.filter(exists(col("tokens"),
        t => coalesce(t >= cfg.vocabSize || t < 0, lit(false)))).count() ==
        exp("oov_token"), "oov_token")
    } finally df.unpersist()
  }
}
