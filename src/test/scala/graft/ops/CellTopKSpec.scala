package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The in-cell search kernel ([[Similarity.cellTopK]]) against the plan it
  * replaced: a candidate equi-join on the cell, one quantized dot per
  * pair, and `row_number ≤ k` over (cosine desc, neighbor_id). Every case
  * compares whole rows, cosines included, so a tie broken the other way,
  * a missed or extra candidate, or a cosine that is not bit-identical
  * fails.
  */
class CellTopKSpec extends SparkSpec {

  private val Cells = 4

  private val schema = new StructType()
    .add("vec_id", LongType, nullable = false)
    .add("embedding", ArrayType(FloatType, containsNull = true))

  /** 40 vectors of dim 6 on a coarse grid (so exact dot ties occur
    * naturally), plus planted duplicates, a null embedding, a ragged
    * vector and one with a null element.
    */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 40L).map { i =>
      i -> Seq.fill(6)(java.lang.Float.valueOf((rnd.nextInt(9) - 4) / 4.0f))
    }.toMap
    val rows = base.toSeq.sortBy(_._1).map { case (i, v) =>
      val emb: Seq[java.lang.Float] = i match {
        // 5, 9, 13 and 17: one all-ones vector, whose dot with itself is
        // the largest any grid vector reaches against it
        case 5L | 9L | 13L | 17L => Seq.fill(6)(java.lang.Float.valueOf(1.0f))
        case 21L => null
        case 22L => base(22L).take(4) // ragged
        case 23L => base(23L).updated(2, null)
        case _ => v
      }
      Row(i, emb)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** A ranked assignment: home cell vec_id % Cells at rank 1, then the
    * following cells in order up to rank `nprobe`.
    */
  private def ranked(nprobe: Int, df: DataFrame = corpus): DataFrame =
    df.select(col("vec_id"), col("embedding"),
        posexplode(transform(sequence(lit(0), lit(nprobe - 1)),
          j => pmod(col("vec_id") + j, lit(Cells)).cast("int"))).as(Seq("pos", "cell")))
      .select(col("vec_id"), col("embedding"), col("cell"),
        (col("pos") + 1).as("cell_rank"))

  private def naive(cells: DataFrame, k: Int): DataFrame = {
    val a = cells.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("cell").as("ca"))
    val b = cells.filter(col("cell_rank") === 1).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("cell").as("cb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, col("ca") === col("cb") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.dot(col("qe"), col("ne")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Option[Double])] =
    df.select("query_id", "rank", "neighbor_id", "cosine").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(r => (r._1, r._2))

  for (nprobe <- Seq(1, 2, Cells); salts <- Seq(1, 3); k <- Seq(3, 12)) {
    test(s"kernel == candidate join + row_number (nprobe $nprobe, salts $salts, k $k)") {
      val cells = ranked(nprobe)
      val got = rows(Similarity.cellTopK(cells, k, salts, nprobe))
      val want = rows(naive(cells, k))
      assert(got == want)
    }
  }

  test("planted duplicates tie on the dot and break to the smaller neighbor_id") {
    // 5, 9, 13 and 17 are one vector, all homed in cell 1: from 9 the other
    // three tie exactly, so they come in id order (5, 13, 17)
    val got = rows(Similarity.cellTopK(ranked(1), 3, 1, 1)).filter(_._1 == 9L)
    assert(got.map(_._3) == Seq(5L, 13L, 17L))
    assert(got.map(_._4).distinct.size == 1)
  }

  test("a query with fewer than k other vectors in its probed cells gets them all") {
    val few = ranked(2, corpus.filter(col("vec_id") < 6))
    val got = rows(Similarity.cellTopK(few, 10, 3, 2))
    // nprobe 2 over 4 cells: each query sees the homes of two cells
    for (q <- 0L until 6L) {
      val cand = (0L until 6L).filter(n =>
        n != q && ((n % Cells) == (q % Cells) || (n % Cells) == ((q + 1) % Cells)))
      assert(got.filter(_._1 == q).map(_._3).toSet == cand.toSet, s"query $q")
    }
    assert(got == rows(naive(few, 10)))
  }

  test("a null embedding ranks last with a null cosine; a ragged vector dots " +
    "over the shorter length") {
    val got = rows(Similarity.cellTopK(ranked(1), 12, 1, 1))
    // 21 is homed in cell 1: as a neighbor it has a null cosine and ranks
    // after every scored one; as a query all its candidates are null
    val as21 = got.filter(_._1 == 21L)
    assert(as21.nonEmpty && as21.forall(_._4.isEmpty))
    assert(as21.map(_._3) == as21.map(_._3).sorted)
    got.filter(r => r._1 % Cells == 1 && r._1 != 21L).foreach { r =>
      assert(r._4.isEmpty == (r._3 == 21L), r)
    }
    // 22 (4 of 6 dims) is homed in cell 2; its cosines match QuantizedDot's
    assert(got.exists(r => r._1 == 22L && r._4.nonEmpty))
    assert(got == rows(naive(ranked(1), 12)))
  }

  test("the kernel emits at most k rows per (query, cell, salt)") {
    val cells = ranked(Cells)
    val home = corpus.select(col("vec_id").as("neighbor_id"),
      pmod(col("vec_id"), lit(Cells)).as("home"))
    for (salts <- Seq(1, 3)) {
      val found = Similarity.cellKernel(cells, 2, salts)
      // a query maps to one salt and a neighbor has one home cell, so
      // (query, neighbor's home) identifies the (query, cell, salt) group
      val perGroup = found.join(home, "neighbor_id")
        .groupBy("query_id", "home").count()
        .agg(max("count")).head().getLong(0)
      assert(perGroup == 2, s"salts $salts")
      assert(found.agg(max("rank")).head().getInt(0) <= 2)
    }
  }

  test("salts widen the search keys to 4x the session parallelism only when " +
    "the dot volume fills that many tasks") {
    val par = spark.sparkContext.defaultParallelism
    // 10 cells, 2,000 home rows probed at every cell: 4M dots
    val dense = spark.range(2000).select(col("id").as("vec_id"),
      explode(sequence(lit(1), lit(10))).as("cell_rank"))
      .withColumn("cell", pmod(col("vec_id") + col("cell_rank"), lit(10)))
    val (salts, probes) = Similarity.cellJoinSalts(dense)
    assert(probes == 10)
    assert(salts * 10 >= 4 * par && (salts - 1) * 10 < 4 * par)
    // as many cells as vectors: cells ≫ cores, no salting
    val fine = spark.range(2000).select(col("id").as("vec_id"), lit(1).as("cell_rank"),
      col("id").as("cell"))
    assert(Similarity.cellJoinSalts(fine) == ((1, 1)))
  }
}
