package graft

import graft.json.JsonRender
import graft.types._

/** Single-threaded extract+merge fold rate over reference-shaped records
  * — the ported reference algorithm itself (A1-A8), measured to ground
  * BENCH/BASELINE.md's comparison: `sbt -batch "Test/runMain graft.RefFoldBench"`.
  * Times two folds over the same records: `extract` over parsed JValue
  * trees (the reference algorithm), and `extractLine` over the records
  * rendered as JSON lines (parse included, the engine's inference path).
  */
object RefFoldBench {
  def main(args: Array[String]): Unit = {
    val n = 100000
    // records shaped like the tokenized table row as a JSON document
    val records: IndexedSeq[JValue] = (0 until n).map { i =>
      JValue.obj(
        "doc_id" -> JStr(f"doc$i%012x"),
        "tokens" -> JArr((0 until 180).map(j => JInt(BigInt((i * 31 + j) % 50000))).toVector),
        "n_tok" -> JInt(BigInt(180)),
        "source" -> JStr(if (i % 10 < 8) "web" else "books"))
    }
    val lines = records.map(JsonRender.compact)
    val extractor = TypeExtractor.merging()
    fold("extract + mergeTwo (JValue trees)", n) {
      records.iterator.map(extractor.extract).reduce(StrictMerge.mergeTwo)
    }
    fold("extractLine + mergeTwo (JSON lines)", n) {
      lines.iterator.map(l => extractor.extractLine(l).toOption.get)
        .reduce(StrictMerge.mergeTwo)
    }
  }

  /** Warm-up + 3 measured runs of one fold over `n` records. */
  private def fold(label: String, n: Int)(run: => SchemaType): Unit =
    (0 until 4).foreach { i =>
      val t0 = System.nanoTime()
      val merged = run
      val secs = (System.nanoTime() - t0) / 1e9
      if (i > 0)
        println(f"$label run $i: $n records in $secs%.2f s -> ${n / secs}%.0f rec/s/core (${SchemaType.render(merged).take(60)}...)")
    }
}
