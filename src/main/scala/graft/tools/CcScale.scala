package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale evidence for the round-7 connected-components contraction: a
  * synthetic edge list (uniform random edges + planted long chains for
  * diameter) at configurable size, run through
  * [[graft.ops.Components.connectedComponents]] with contraction ON vs
  * OFF, wall-times printed. Deterministic (xxhash64-derived edges).
  *
  * Usage: runMain graft.tools.CcScale [nEdges] [nNodes] [runs]
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val nEdges = if (args.nonEmpty) args(0).toLong else 20000000L
    val nNodes = if (args.length > 1) args(1).toLong else 10000000L
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // shape=random (default): uniform random edges (giant component —
    // the adversarial case) plus 1000-node chains for diameter.
    // shape=clusters: 3-node chains (many tiny components — the shape a
    // near-dup pair list actually has).
    val shape = sys.env.getOrElse("CC_SHAPE", "random")
    val raw =
      if (shape == "clusters")
        // edges 2k and 2k+1 chain nodes 3k, 3k+1, 3k+2 (integer division:
        // `/` alone divides as doubles)
        spark.range(nEdges).select(
          (floor(col("id") / 2).cast("long") * 3 + pmod(col("id"), lit(2))).as("u"),
          (floor(col("id") / 2).cast("long") * 3 + pmod(col("id"), lit(2)) + 1).as("v"))
      else {
        val rand = spark.range(nEdges).select(
          pmod(xxhash64(col("id"), lit(1)), lit(nNodes)).as("u"),
          pmod(xxhash64(col("id"), lit(2)), lit(nNodes)).as("v"))
        val chainIds = nNodes / 100
        rand.unionByName(spark.range(chainIds - 1)
          .filter(pmod(col("id") + 1, lit(1000L)) =!= 0) // break every 1000
          .select(col("id").as("u"), (col("id") + 1).as("v")))
      }
    val edges = raw.repartition(cpus.toInt * 2).persist()
    println(s"edges: ${edges.count()} over ~$nNodes nodes")

    def runCase(name: String, contractMaxNodes: Int): Unit = {
      for (r <- 1 to runs) {
        val t0 = System.nanoTime()
        val n = graft.ops.Components.connectedComponents(
            edges, "u", "v", contractMaxNodes = contractMaxNodes)
          .groupBy(col("component")).count().count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"$name run $r: $t%.1f s ($n components)")
      }
    }
    runCase("contraction ON ", 8 << 20)
    runCase("contraction OFF", 0)
    spark.stop()
  }
}
