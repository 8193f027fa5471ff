package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics expressed as Spark SQL relational algebra —
  * the Pregel-lite pattern (Malewicz et al., SIGMOD'10): one superstep =
  * join(edges, ranks) → groupBy(dst) → agg, repeated a fixed K times.
  * No GraphX/RDDs: edge relations stay DataFrames so Catalyst/AQE plan
  * every superstep (skew-aware shuffle joins, partial aggregation).
  *
  * All rank arithmetic is integer fixed-point (×10⁶ scale, `div`
  * division) — float summation order would differ between engines and
  * across cluster layouts; integer sums are associative, so the DuckDB
  * oracle and any partitioning reproduce bit-identical ranks.
  */
object GraphQueries {

  /** 3-superstep personalized PageRank over the bipartite
    * customer↔supplier trade graph (edges = distinct (custkey, suppkey)
    * pairs that share an order). Mass starts uniform on customers
    * (10⁶ fixed-point), propagates customer→supplier→customer→supplier
    * with damping 0.85 (`150000 + 85·Σ/100` in fixed-point): suppliers
    * rank high when many well-connected customers concentrate orders on
    * them — the "important node" query of any entity graph (fraud rings,
    * citation graphs, link spam).
    *
    * Scale shape: the edge list is MATERIALIZED once (marker-cached
    * scratch parquet, the q148/q151 pattern) — the fact-join + distinct
    * that derives it must not replay per superstep (without this the
    * plan scans orders and lineitem 6× each; production graph pipelines
    * build the edge table exactly once). Each superstep is then a
    * key-shuffle join of the compact 2-long-column edge relation with a
    * node-sized rank relation plus a partial-aggregated groupBy — never
    * a broadcast of anything fact-derived (planner/AQE may still
    * broadcast at small SF; size-based, so it degrades to shuffle at
    * scale). K is fixed at 3, so the plan is a static DAG — no
    * driver-side convergence loop. Top-20 output via
    * TakeOrderedAndProject with a total-order tiebreak.
    */
  def q157GraphPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pid-free like annIndexRoot (round 15): published atomically, keyed
    // on the content fingerprints of both input tables — a fresh session
    // serves the extracted edge list by path instead of re-extracting
    val root = graft.Scratch.path(
      s"tradegraph_${graft.Scratch.tag(dir)}" +
        s"_f${graft.Scratch.fingerprint(s"$dir/orders.parquet")}" +
        s"${graft.Scratch.fingerprint(s"$dir/lineitem.parquet")}")
    graft.Scratch.publishOnce(root, "_edges_complete") { staging =>
      Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sup"))
        .distinct()
        .write.mode("overwrite").parquet(s"$staging/edges")
    }
    // read with the writer's schema: no footer-inference job per execution
    val e = s.read.schema("c BIGINT, sup BIGINT").parquet(s"$root/edges")
    val outc = e.groupBy($"c").agg(count(lit(1)).as("dc"))
    val outs = e.groupBy($"sup").agg(count(lit(1)).as("ds"))
    // superstep 1: uniform customer mass 10⁶ splits over each customer's
    // out-edges (`div` keeps the arithmetic in exact longs)
    val rs1 = e.join(outc, "c")
      .groupBy($"sup")
      .agg(sum(expr("1000000 div dc")).as("in_m"))
      .select($"sup", expr("150000 + (85 * in_m) div 100").as("r1"))
    // superstep 2: supplier mass flows back over the same edges
    val rc = e.join(outs, "sup").join(rs1, "sup")
      .groupBy($"c")
      .agg(sum(expr("r1 div ds")).as("in_m"))
      .select($"c", expr("150000 + (85 * in_m) div 100").as("r2"))
    // superstep 3: final supplier ranks
    e.join(outc, "c").join(rc, "c")
      .groupBy($"sup")
      .agg(sum(expr("r2 div dc")).as("in_m"))
      .select($"sup".as("s_suppkey"), expr("150000 + (85 * in_m) div 100").as("rank_fp"))
      .orderBy($"rank_fp".desc, $"s_suppkey")
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_graph_pagerank" -> (q157GraphPagerank _),
  )

  val oracles: Map[String, String] = Map(
    // same fixed-point recipe: HUGEINT sums, floor division on positive
    // operands ≡ Spark's truncating `div`
    "q157_graph_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), outc AS (SELECT c, count(*) AS dc FROM e GROUP BY c),
        |outs AS (SELECT sup, count(*) AS ds FROM e GROUP BY sup),
        |rs1 AS (
        |  SELECT sup, 150000 + (85 * sum(1000000 // dc)) // 100 AS r1
        |  FROM e JOIN outc USING (c) GROUP BY sup
        |), rc AS (
        |  SELECT c, 150000 + (85 * sum(r1 // ds)) // 100 AS r2
        |  FROM e JOIN outs USING (sup) JOIN rs1 USING (sup) GROUP BY c
        |), rs2 AS (
        |  SELECT sup AS s_suppkey, 150000 + (85 * sum(r2 // dc)) // 100 AS rank_fp
        |  FROM e JOIN outc USING (c) JOIN rc USING (c) GROUP BY sup
        |)
        |SELECT s_suppkey, CAST(rank_fp AS BIGINT) AS rank_fp
        |FROM rs2 ORDER BY rank_fp DESC, s_suppkey LIMIT 20""".stripMargin,
  )
}
