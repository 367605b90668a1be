package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.graftbridge.JobLog
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.types._

/** Differential pins of the one-job inference fold
  * ([[JsonSchemaInference.foldLines]]): whatever the partitioning and line
  * order, the schema EQUALS a single-threaded `extractLine` + `mergeTwo`
  * fold, and the plan is one job with no exchange.
  */
class InferFoldSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  // blank, malformed, non-object and empty documents; documents whose
  // merge nests unions inside fields and collection elements
  private val shapes = Seq(
    "", "   ", "{", """{"a": 1""", "not json", "5", "[1, 2]", "\"str\"", "null", "{}",
    """{"a": 1, "b": "x"}""", """{"a": "s", "b": "yy"}""", """{"a": 2.5, "b": null}""",
    """{"a": 10, "b": "zzz", "c": true}""", """{"a": {"x": 1}}""", """{"a": {"y": [1, "t"]}}""",
    """{"a": [1, "x", {"k": 1}, {"j": 2}, [true]]}""", """{"a": [{"k": 3}, 7, []]}""",
    """{"d": "2024-01-02", "e": "2024-01-02 10:00:00"}""", """{"d": "x", "e": []}""",
    """{"p": "{\"k\": 4}"}""", """{"p": "{\"k\": \"v\"}"}""", """{"a": null, "b": "w"}""")

  private val lines: Seq[String] = {
    val rnd = new scala.util.Random(7)
    shapes ++ Seq.fill(120)(shapes(rnd.nextInt(shapes.size)))
  }
  private val dateFormats = Seq("yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss")

  /** The reference fold, one thread: extract each line, `mergeTwo` them. */
  private def reference(ls: Seq[String], policy: MergePolicy): JsonSchemaInference.Result = {
    val ex = new TypeExtractor(policy, dateFormats)
    val rs = ls.map(ex.extractLine)
    JsonSchemaInference.Result(rs.flatMap(_.toOption).reduceOption(policy.mergeTwo),
      rs.size.toLong, rs.count(_.isLeft).toLong)
  }

  private def hasUnion(t: SchemaType): Boolean = t match {
    case _: UnionT => true
    case DocT(fs)  => fs.values.exists(hasUnion)
    case CollT(e)  => e.exists(hasUnion)
    case _         => false
  }

  test("inference equals the mergeTwo fold over 1, 3 and 7 partitions in any order") {
    import spark.implicits._
    assert(reference(lines, StrictMerge).schema.exists {
      case UnionT(ts) => ts.exists(hasUnion)
      case _          => false
    }, "the fixture must nest unions under a union branch")
    for (policy <- Seq(StrictMerge, SimplifyMerge); seed <- 0 until 3; parts <- Seq(1, 3, 7)) {
      val order = new scala.util.Random(seed).shuffle(lines)
      // hashing on 3 keys into 7 partitions leaves some of them empty
      val ds = order.zipWithIndex.toDF("value", "i")
        .repartition(parts, col("i") % 3).select("value").as[String]
      if (parts == 7) {
        val sizes = ds.mapPartitions(it => Iterator.single(it.size)).collect()
        assert(sizes.length == 7 && sizes.contains(0), sizes.mkString(","))
      }
      val want = reference(order, policy)
      assert(JsonSchemaInference.infer(ds, policy, dateFormats) == want,
        s"$policy seed=$seed partitions=$parts")
      assert(want == reference(lines, policy), "the reference fold is order-free")
    }
  }

  test("an empty Dataset infers no schema, no records") {
    import spark.implicits._
    for (policy <- Seq(StrictMerge, SimplifyMerge))
      assert(JsonSchemaInference.infer(spark.emptyDataset[String], policy) ==
        JsonSchemaInference.Result(None, 0, 0))
  }

  /** Every node of an executed plan, through adaptive plans and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  })

  test("inferFiles over a multi-file JSONL directory is one job with no exchange") {
    val dir = SharedSpark.tempDir("infer-files")
    lines.grouped(40).zipWithIndex.foreach { case (ls, i) =>
      Files.write(Paths.get(dir, s"part-$i.jsonl"), ls.map(_ + "\n").mkString.getBytes(UTF_8))
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (res, jobs) = try JobLog.record(spark.sparkContext)(
      JsonSchemaInference.inferFiles(spark, Seq(dir), StrictMerge, dateFormats))
    finally spark.listenerManager.unregister(listener)
    assert(res == reference(lines, StrictMerge))
    assert(jobs.size == 1, s"${jobs.size} jobs: $jobs")
    assert(plans.size == 1, plans)
    val all = nodes(plans.peek())
    assert(!all.exists(_.isInstanceOf[Exchange]), s"an exchange in:\n${plans.peek()}")
  }
}
