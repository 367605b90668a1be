package graft.ingest

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.types._

/** Differential spec of the inference fold's kernel, the per-task cluster
  * accumulators ([[Clusters]]): over ExtractLineSpec's generated corpus and
  * over targeted shapes that force each in-place path and each fallback,
  * the inferred schema must equal `reduceOption(mergeTwo)` over
  * `extractLine`, under both policies, with and without date formats.
  *
  * Values must be equal whatever the partitioning and line order.
  * Renderings (`==` cannot tell -0.0 from 0.0) must be equal for a fold in
  * the reference's own order. Across orders the reference itself may
  * render differently: a union's member set keeps one of two reals that
  * differ only in the sign of a zero, the one merged in first. So a
  * partitioned fold's rendering is compared where the reference renders
  * the same forwards and backwards.
  */
class FoldKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val policies = Seq(StrictMerge, SimplifyMerge)
  private val formatSets = Seq(Nil, Seq("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss"))

  private lazy val corpus: Seq[String] = {
    val out = Vector.newBuilder[String]
    var produced = 0
    var i = 0L
    while (produced < 1500) {
      ExtractLineSpec.genLine(Gen.Parameters.default.withSize(produced % 10 + 1), Seed(0xF01DL + i))
        .foreach { l => out += l; produced += 1 }
      i += 1
    }
    out.result()
  }

  /** The reference fold, one thread: `extractLine` each line, `mergeTwo` them. */
  private def reference(ls: Seq[String], policy: MergePolicy,
                        fmts: Seq[String]): JsonSchemaInference.Result = {
    val ex = new TypeExtractor(policy, fmts)
    val rs = ls.map(ex.extractLine)
    JsonSchemaInference.Result(rs.flatMap(_.toOption).reduceOption(policy.mergeTwo),
      rs.size.toLong, rs.count(_.isLeft).toLong)
  }

  private def assertSame(got: JsonSchemaInference.Result, want: JsonSchemaInference.Result,
                         clue: String): Unit = {
    assert(got == want, clue)
    assert(got.render == want.render, s"renderings differ: $clue")
  }

  /** `infer` over `parts` partitions (lines spread by index modulo
    * `parts`, so the partitions interleave the order) against the
    * reference fold.
    */
  private def checkInfer(ls: Seq[String], policy: MergePolicy, fmts: Seq[String],
                         parts: Int, clue: String): Unit = {
    import spark.implicits._
    val ds = ls.zipWithIndex.toDF("value", "i")
      .repartition(parts, col("i") % parts).sortWithinPartitions("i")
      .select("value").as[String]
    val got = JsonSchemaInference.infer(ds, policy, fmts)
    val want = reference(ls, policy, fmts)
    val what = s"$clue $policy formats=${fmts.size} partitions=$parts"
    if (parts == 1 || want.render == reference(ls.reverse, policy, fmts).render)
      assertSame(got, want, what)
    else assert(got == want, what)
  }

  /** One task's fold, no Spark, against the reference in the same order. */
  private def checkFold(order: Seq[String], policy: MergePolicy, fmts: Seq[String],
                        clue: String): Unit = {
    val ex = new TypeExtractor(policy, fmts)
    val got = JsonSchemaInference.merge(policy,
      Seq(JsonSchemaInference.fold(policy, order.iterator.map(ex.extractLine))))
    assertSame(got, reference(order, policy, fmts), s"$clue $policy formats=${fmts.size}")
  }

  test("the generated corpus folds to reduceOption(mergeTwo) in one task, any order") {
    for (policy <- policies; fmts <- formatSets; seed <- 0 until 3)
      checkFold(new scala.util.Random(seed).shuffle(corpus), policy, fmts, s"seed=$seed")
  }

  test("the generated corpus folds to reduceOption(mergeTwo) over 1, 3 and 7 partitions") {
    for (policy <- policies; fmts <- formatSets; (parts, seed) <- Seq(1, 3, 7).zipWithIndex) {
      val order = new scala.util.Random(seed).shuffle(corpus)
      checkInfer(order, policy, fmts, parts, s"seed=$seed")
    }
  }

  /** Targeted shapes, each line in one document cluster unless it says so. */
  private val targeted: Seq[(String, Seq[String])] = Seq(
    "a field that changes kind mid-partition" -> Seq(
      """{"a": 1, "b": "x"}""", """{"a": 2, "b": "yy"}""", """{"a": "s", "b": "z"}""",
      """{"a": 3, "b": true}""", """{"a": null, "b": "w"}""", """{"a": 4, "b": "v"}"""),
    "an int field that crosses 2^63" -> Seq(
      """{"n": 5, "m": [1, 2]}""", """{"n": 9223372036854775807, "m": [3]}""",
      """{"n": 9223372036854775808, "m": [9223372036854775808]}""",
      """{"n": -9223372036854775809, "m": [-4]}""", """{"n": 7, "m": [5]}"""),
    "nested documents with differing keysets" -> Seq(
      """{"d": {"x": 1}}""", """{"d": {"x": 2, "y": "s"}}""", """{"d": {"x": 3}}""",
      """{"d": {"y": "t"}}""", """{"d": {"x": {"z": 1}}}""", """{"d": {"x": {"w": 1.5}}}""",
      """{"d": [{"x": 1}, {"y": 2}]}""", """{"d": [{"x": 3}]}"""),
    "an empty array that is later non-empty" -> Seq(
      """{"a": []}""", """{"a": []}""", """{"a": [1, 2]}""", """{"a": [[]]}""",
      """{"a": [[1]]}""", """{"a": ["x"]}""", """{"a": []}"""),
    "signed zeros and infinities in real fields" -> Seq(
      """{"r": 0.0, "s": 1e400}""", """{"r": -0.0, "s": -1e400}""", """{"r": 0.0, "s": 2.5}""",
      """{"r": [0.0], "s": 1.0}""", """{"r": [-0.0], "s": 0.5}"""),
    "date formats and revived strings" -> Seq(
      """{"t": "2013-01-01", "p": "{\"k\": 1}"}""", """{"t": "2013-01-01 12:00:00", "p": "{\"k\": 2}"}""",
      """{"t": "x", "p": "{\"k\": \"v\"}"}""", """{"t": "2-10-10", "p": "[1, \"2\"]"}"""))

  for ((name, ls) <- targeted) test(s"targeted: $name") {
    for (policy <- policies; fmts <- formatSets) {
      ls.indices.foreach(r => checkFold(ls.drop(r) ++ ls.take(r), policy, fmts, s"rotation $r"))
      Seq(1, 3).foreach(parts => checkInfer(ls, policy, fmts, parts, name))
    }
  }

  test("the targeted cases reach the fallbacks they are named for") {
    val ex = TypeExtractor.merging()
    def schema(ls: Seq[String]) = ls.flatMap(ex.extractLine(_).toOption).reduce(StrictMerge.mergeTwo)
    val byName = targeted.toMap
    assert(schema(byName("a field that changes kind mid-partition")) == DocT(Map(
      "a" -> UnionT.of(IntT(1, 4), StrT(1, 1), NullT),
      "b" -> UnionT.of(StrT(1, 2), BoolT))))
    assert(schema(byName("an int field that crosses 2^63")) == DocT(Map(
      "n" -> IntT(BigInt("-9223372036854775809"), BigInt("9223372036854775808")),
      "m" -> CollT.of(IntT(-4, BigInt("9223372036854775808"))))))
    // the scalar branch widens to both zeros; the collection branch is
    // replaced by the last, equal-valued [-0.0] inside the union's set
    assert(SchemaType.render(schema(byName("signed zeros and infinities in real fields"))) ==
      "doc{r:union<coll[real[-0.0,-0.0]]|real[-0.0,0.0]>,s:real[-Infinity,Infinity]}")
  }
}
