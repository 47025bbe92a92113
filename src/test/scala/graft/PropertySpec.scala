package graft

import graft.etl._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based invariants (SURVEY.md §5.4): incremental-export
  * routing, checkpoint round-trips, sanitization, and the top-k
  * aggregator's merge algebra. Driver-side generators; the one Spark
  * property uses a handful of cases (per-sample Spark jobs are slow).
  */
class PropertySpec extends AnyFunSuite {

  /** Run a ScalaCheck property and fail the suite on falsification. */
  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(r.passed, r.status.toString)
  }


  private lazy val spark = {
    val s = GraftSession.builder("4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("sanitize is idempotent and emits only lowercase alnum/_ " +
    "(full Unicode input, incl. one-to-many lowercase expansions)") {
    check(Prop.forAll { (s: String) =>
      val once = Exporter.sanitize(s)
      Exporter.sanitize(once) == once &&
        once.forall(c => (c.isLetterOrDigit && !c.isUpper) || c == '_')
    })
    // the classic trap: U+0130 lowercases to 'i' + combining dot
    assert(Exporter.sanitize("İstanbul") == "istanbul")
  }

  test("checkpoint state JSON round-trips for arbitrary contents") {
    val gen = for {
      t <- Gen.alphaNumStr
      d <- Gen.chooseNum(0L, Long.MaxValue / 2)
      sc <- Gen.chooseNum(0L, Long.MaxValue / 2)
      h <- Gen.hexStr
    } yield CheckpointState(t, d, sc, h)
    check(Prop.forAll(gen) { st =>
      CheckpointState.fromJson(st.toJson) == st
    })
  }

  test("watermark routing is total and matches column presence exactly") {
    val colGen = Gen.listOf(Gen.oneOf(
      "created_at", "updated_at", "legacy_created_at_backup", "id", "x"))
    check(Prop.forAll(colGen) { cols =>
      val r = Watermark.route(cols)
      val c = cols.contains("created_at")
      val u = cols.contains("updated_at")
      val expect =
        if (c && u) Watermark.CreatedAndUpdated
        else if (c) Watermark.CreatedOnly
        else if (u) Watermark.SkipUpdatedOnly
        else Watermark.FullDump
      // exact-name matching: the substring trap column alone never
      // triggers an incremental route (documented deviation, SURVEY §1.4)
      r == expect &&
        (c || u || !cols.contains("legacy_created_at_backup") ||
          r == Watermark.FullDump)
    })
  }

  test("TopKAgg: merge of any partition split equals top-k of the whole") {
    import graft.ops.TopK.{QScored, Scored, TopKAgg}
    val agg = new TopKAgg(5)
    val itemGen = Gen.listOfN(30, for {
      id <- Gen.chooseNum(0L, 1000L)
      score <- Gen.chooseNum(-100, 100).map(_ / 10.0)
    } yield QScored(0L, id, score))
    check(Prop.forAll(itemGen, Gen.chooseNum(0, 30)) { (items, cut) =>
      val whole = items.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = items.splitAt(cut min items.length)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val expect = items.map(q => Scored(q.id, q.score))
        .sortBy(s => (-s.score, s.id)).take(5)
      // (score, id) sort pins ties, so equality is exact
      merged == whole && merged == expect
    })
  }

  test("incremental export == strict-> predicate on random row sets " +
    "(10 sampled cases)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val rows = (1 to n).map { i =>
        Row(i.toLong,
          java.time.LocalDateTime.of(2024, 1, 1 + rnd.nextInt(28), 0, 0),
          java.time.LocalDateTime.of(2024, 1, 1 + rnd.nextInt(28), 0, 0))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("id", LongType),
          StructField("created_at", TimestampNTZType),
          StructField("updated_at", TimestampNTZType))))
      val wmDay = 1 + rnd.nextInt(28)
      val wm = f"2024-01-$wmDay%02d 00:00:00"
      val got = Watermark(df, wm).get._1.collect().map(_.getLong(0)).toSet
      val wmT = java.time.LocalDateTime.of(2024, 1, wmDay, 0, 0)
      val expect = rows.filter { r =>
        r.getAs[java.time.LocalDateTime](1).isAfter(wmT) ||
          r.getAs[java.time.LocalDateTime](2).isAfter(wmT)
      }.map(_.getAs[Long](0)).toSet
      assert(got === expect, s"wm=$wm")
    }
  }

  test("RangeNtile withNtile/withRowNumber == window forms on random " +
    "tie-heavy datasets across k and shard counts (8 sampled cases)") {
    import graft.ops.RangeNtile
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    (1 to 8).foreach { _ =>
      // sizes span the degenerate (< k), the sub-shard, and the
      // multi-shard regimes; scores are drawn from a tiny range so tie
      // groups straddle shard boundaries — the case the tiebreak column
      // and the offset broadcast must get right together
      val n = 1 + rnd.nextInt(2000)
      val rows = (1 to n).map(i => (rnd.nextInt(7).toLong, i.toLong))
      val df = spark.createDataFrame(rows).toDF("score", "id")
      val sortKey = Seq(col("score"), col("id"))
      val k = 1 + rnd.nextInt(12)
      val shards = 1 + rnd.nextInt(40)
      val wantN = df.withColumn("b",
          ntile(k).over(Window.orderBy(sortKey: _*)).cast("long"))
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      val gotN = RangeNtile.withNtile(df, sortKey, k, "b", shards)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(gotN === wantN, s"ntile n=$n k=$k shards=$shards")
      val wantR = df.withColumn("rn",
          row_number().over(Window.orderBy(sortKey: _*)).cast("long"))
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      val gotR = RangeNtile.withRowNumber(df, sortKey, "rn", shards)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(gotR === wantR, s"row_number n=$n shards=$shards")
    }
  }

  test("q153 chunking tiles every doc exactly: stride starts, full " +
    "coverage, correct overlap, short-doc single chunk") {
    val sf = "/root/testdata/sf0.001"
    val chunks = SparkEntry.queries("q153_chunk_overlap")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val nTok = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(chunks.keySet === nTok.keySet, "every doc chunks")
    chunks.foreach { case (doc, cs) =>
      val n = nTok(doc)
      val sorted = cs.sortBy(_._2)
      // starts are exactly the stride grid 1, 25, 49, ... <= n
      assert(sorted.map(_._3).toSeq === (1L to n by 24L).toSeq, s"doc=$doc")
      // contiguous indexes; each length follows the window formula
      assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong))
      sorted.foreach { c =>
        assert(c._4 === math.min(c._3 + 31L, n) - c._3 + 1L, s"doc=$doc")
      }
      // the tail reaches exactly the last token — full coverage
      val last = sorted.last
      assert(last._3 + last._4 - 1 === n, s"doc=$doc")
      if (sorted.length == 1) assert(last._4 === math.min(n, 32L))
    }
  }
}
