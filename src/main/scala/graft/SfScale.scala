package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic FK-consistent corpus scaler: writes a `mult`× copy of a
  * driver testdata dir (ALL ten tables, not just the ScaleProbe trio) so
  * the full Verify + DuckDB-oracle + Bench loop can run at sf1-equivalent
  * volume (10× sf0.1) inside this sandbox, which ships no sf1 directory.
  *
  * Scaling rules (all keyed on a copy index k ∈ [0, mult)):
  *  - region/nation: UNCHANGED — they are fixed-size dimensions in TPC-H
  *    (25 nations regardless of SF), and the star-join queries broadcast
  *    them by that assumption.
  *  - customer/supplier/part: pk' = pk·mult + k; nationkey and measure
  *    columns ride along, so per-nation/per-brand distributions are
  *    preserved exactly.
  *  - orders: orderkey/custkey both remapped with the SAME k, keeping
  *    each customer's order count and the order→customer degree
  *    distribution identical to the base corpus.
  *  - lineitem: orderkey gets the order's k; partkey/suppkey are remapped
  *    with a k DERIVED from the line (rotated by linenumber) so scaled
  *    parts/suppliers all receive traffic instead of only the k-th copy.
  *  - events: event_id' = id·mult + k, ts jittered k·7s, SAME user ids —
  *    timelines densify, the sessionization/dedup pressure case.
  *  - documents: near-dup clusters of `mult` (one unique suffix token per
  *    copy) — the dedup-family stress shape, same as ScaleProbe.
  *  - embeddings: per-copy one-coordinate jitter, preserving near-dup
  *    geometry.
  *
  * Every rule is pure column arithmetic, so the DuckDB oracles run
  * unmodified over the scaled directory and the cross-engine compare
  * stays exact.
  *
  * Run: sbt "runMain graft.SfScale /root/testdata/sf0.1 /tmp/sf1 10"
  */
object SfScale {
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val mult = args(2).toInt
    val spark = graft.util.SessionTuning.local(defaultCpus = 32)

    def rd(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    val copies = explode(sequence(lit(0), lit(mult - 1))).as("k")
    def scaled(pk: String) = (col(pk) * mult + col("k")).as(pk)

    // fixed-size dims: copied verbatim
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(rd("customer").select(col("*"), copies)
      .select(scaled("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment")), "customer")
    wr(rd("supplier").select(col("*"), copies)
      .select(scaled("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal")), "supplier")
    wr(rd("part").select(col("*"), copies)
      .select(scaled("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")), "part")
    wr(rd("orders").repartition(32).select(col("*"), copies)
      .select(scaled("o_orderkey"), scaled("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")), "orders")
    // lineitem joins orders on orderkey → same k; part/supp keys rotate k
    // by linenumber so every scaled copy receives traffic
    val rot = pmod(col("k") + col("l_linenumber"), lit(mult))
    wr(rd("lineitem").repartition(32).select(col("*"), copies)
      .select(scaled("l_orderkey"),
        (col("l_partkey") * mult + rot).as("l_partkey"),
        (col("l_suppkey") * mult + rot).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), "lineitem")

    // events: via Tables.events (driver file is INT64-nanos; this converts
    // to a real µs TIMESTAMP, which both engines then read identically)
    wr(graft.sources.Tables.events(spark, base).repartition(32).select(col("*"), copies)
      .select(scaled("event_id"),
        expr("ts + make_interval(0, 0, 0, 0, 0, 0, k * 7)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")), "events")
    wr(rd("documents").repartition(32).select(col("*"), copies)
      .select(scaled("doc_id"),
        concat(col("text"), lit(" uniq"), col("doc_id") * mult + col("k")).as("text"),
        col("lang"), col("source"), col("n_chars")), "documents")
    wr(rd("embeddings").repartition(32).select(col("*"), copies)
      .select(scaled("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === pmod(col("k"), lit(64)),
            x + (col("k").cast("float") - mult / 2.0f + 0.5f) * 1e-4f)
            .otherwise(x)).as("embedding"),
        col("label")), "embeddings")

    println(s"[sfscale] wrote ${mult}x of $base to $out")
    spark.stop()
  }
}
