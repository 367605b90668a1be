package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.ops.RepresentativeSample
import graft.types._
import graft.types.Goldens._
import graft.types.JValue._

class IngestSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("distributed JSON schema inference matches the local fold (core.clj:22-27)") {
    import spark.implicits._
    val lines = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 10, "b": "yy", "c": true}""",
      """{"a": "str"}""",
      """broken{""",
      """{"a": 2.5, "b": null}"""
    )
    val res = JsonSchemaInference.infer(lines.toDS.repartition(3), StrictMerge)
    assert(res.seen == 5 && res.failed == 1)
    // same fold locally
    val extractor = TypeExtractor.merging()
    val local = StrictMerge.mergeAll(lines.flatMap(l =>
      graft.json.JsonParser.parseJsonLine(l).toOption).map(extractor.extract))
    assert(res.schema.contains(local))
  }

  test("simplify-mode inference produces the single unifying shape") {
    import spark.implicits._
    val lines = Seq("""{"a": 1}""", """{"a": 10, "b": 2}""")
    val res = JsonSchemaInference.infer(lines.toDS, SimplifyMerge)
    assert(res.schema.contains(doc("a" -> int(1, 10), "b" -> int(2, 2))))
  }

  test("CSV schema inference with coercion and generated/explicit headers (core.clj:73-95)") {
    import spark.implicits._
    val lines = Seq("1, hello, 2.5", "2, world, 3.5", "bad, x, 09")
    val noHeader = CsvIngest.inferSchema(lines.toDS, ",", None).get
    assert(noHeader == doc(
      "col0" -> union(int(1, 2), str(3)),
      "col1" -> StrT(1, 5),
      "col2" -> union(RealT(2.5, 3.5), str(2)))) // "09" leading zero stays string
    val withHeader = CsvIngest.inferSchema(lines.toDS, ",",
      Some(Seq("id", "name", "score"))).get
    assert(withHeader.asInstanceOf[DocT].properties == Set("id", "name", "score"))
  }

  test("representative sampling covers every (property, type) pair (example_data.clj:36-92)") {
    import spark.implicits._
    val lines = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": "s", "b": "y"}""",
      """{"a": 2, "b": "z"}""",     // redundant: adds no new pair
      """{"a": null, "b": "w"}"""
    )
    val schema = doc(
      "a" -> union(int(1, 2), str(1), NullT),
      "b" -> str(1))
    val (selected, missing) = RepresentativeSample.representativeSet(
      lines.toDS, schema.asInstanceOf[DocT])
    assert(missing.isEmpty, s"uncovered pairs: $missing")
    // minimal-ish: the redundant row is not needed
    assert(selected.size <= 3)
    assert(!selected.contains("""{"a": 2, "b": "z"}"""))
  }

  test("representative lines over several partitions: the first occurrence of each pair wins") {
    import spark.implicits._
    // every line is distinct; `a` cycles int/str/bool, and `b<k>` first
    // shows up from line 10 on, so some first occurrences sit in later
    // partitions and every pair recurs across partitions
    val lines = (0 until 48).map { i =>
      val a = i % 3 match {
        case 0 => i.toString
        case 1 => s""""s$i""""
        case _ => "true"
      }
      if (i < 10) s"""{"a": $a, "i": $i}"""
      else s"""{"a": $a, "b${i % 7}": $i, "i": $i}"""
    } :+ "broken{"
    val ds = spark.sparkContext.parallelize(lines, 4).toDS()
    assert(ds.rdd.getNumPartitions >= 3)
    val schema = doc(
      (Seq("a" -> union(int(0, 1), str(1), BoolT), "i" -> int(0, 1)) ++
        (0 until 7).map(k => s"b$k" -> int(0, 1))): _*)
    val targets = RepresentativeSample.coverageTargets(schema)

    // driver-side scan in line order: the first line exhibiting each pair
    val extractor = new TypeExtractor(StrictMerge, Nil)
    val firstByPair = scala.collection.mutable.LinkedHashMap[(String, String), String]()
    lines.foreach { line =>
      extractor.extractLine(line).toOption.collect { case d: DocT => d }.foreach { d =>
        RepresentativeSample.exhibitedPairs(d).filter(targets.contains)
          .foreach(p => if (!firstByPair.contains(p)) firstByPair(p) = line)
      }
    }
    assert(firstByPair.keySet == targets)

    val picked = RepresentativeSample.fromJsonLines(ds, schema).collect()
    assert(picked.map(r => (r.getString(0), r.getString(1)) -> r.getString(3)).toMap ==
      firstByPair.toMap)
    // row_idx orders the picked lines as the input does
    val byIdx = picked.sortBy(_.getLong(2)).map(_.getString(3)).distinct.toSeq
    assert(byIdx == byIdx.sortBy(lines.indexOf(_)))
  }

  test("binned examples collect capped distinct values per property (example_data.clj:94-115)") {
    import spark.implicits._
    val lines = (1 to 30).map(i => s"""{"a": ${i % 5}, "b": "x"}""")
    val binned = RepresentativeSample.binnedExamples(lines.toDS, maxPerProperty = 3)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(binned("a").length == 3)  // capped from 5 distinct
    assert(binned("b") == Seq("\"x\""))
  }
}
