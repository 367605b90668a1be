package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{Queries, SharedSpark}

class ProfileSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  private val confs = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.codegen.fallback")

  /** The target's steps and its printed row names; every conf it sets
    * must be back to its value before the run.
    */
  private def profile(args: String*): (Seq[Profile.Step], Seq[String]) = {
    val before = confs.map(spark.conf.getAll.get)
    val printed = new java.io.ByteArrayOutputStream
    val steps = Console.withOut(printed) {
      Profile.run(spark, args.toArray, sfDir)
    }
    assert(confs.map(spark.conf.getAll.get) == before, "a conf was not restored")
    val rows = printed.toString("UTF-8").linesIterator
      .filter(l => l.nonEmpty && !l.startsWith(" "))
      .map(_.split(" best=")(0).trim).toSeq
    (steps, rows)
  }

  private def assertLabelled(steps: Seq[Profile.Step]): Unit =
    steps.foreach { s =>
      assert(s.jobs.nonEmpty, s"${s.name} logged no job")
      val unlabelled = s.jobs.filterNot(_.group == s.name)
      assert(unlabelled.isEmpty, s"${s.name}: jobs outside the step's group: $unlabelled")
    }

  test("suite prints SuiteProfile's rows, and every job carries its step's group") {
    val (steps, rows) = profile("suite", "2000", "1")
    assert(rows == Seq("scan_count_only", "scan_ntok_sum", "scan_tokens_sum_size",
      "scan_tokens_stats_walk", "stage_violations_count", "stage_stats_uniqueness",
      "stage_dup_stats", "full_validate_one_scan"))
    assert(steps.map(_.name) == rows)
    assert(steps.forall(_.secs.size == 1))
    assert(steps.head.out == 2000L)
    assertLabelled(steps)
  }

  test("query prints one row per query, with its row count as the checksum") {
    val (steps, rows) = profile("query", "q01_colstats", "1")
    assert(rows == Seq("q01_colstats"))
    val expected = Queries.defs.toMap.apply("q01_colstats")
      .fn(spark, sfDir).count()
    assert(steps.map(_.out) == Seq(expected))
    assertLabelled(steps)
  }
}
