package graft.streaming

import graft.Fixtures
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-streaming twins for the vector-ingest operators — the
  * embedding-side counterpart of [[DocStream]]'s document ingest
  * family. Same source contract: an unbounded parquet stream standing
  * in for the production queue.
  */
object VecStream {

  final case class AnnCand(query_id: Long, cell: Int, neighbor_id: Long,
      cosine: Double)

  /** Embeddings as an unbounded stream from a parquet source (same
    * single-file staging contract as [[DocStream.readDocuments]]). */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/embeddings.parquet"
    val streamDir =
      if (new java.io.File(path).isFile) {
        val src = java.nio.file.Paths.get(path)
        val tag = java.lang.Integer.toHexString(path.hashCode)
        val tmp = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), s"graft_stream_emb_$tag")
        java.nio.file.Files.createDirectories(tmp)
        val dst = tmp.resolve("part-00000.parquet")
        val fresh = java.nio.file.Files.exists(dst) &&
          java.nio.file.Files.size(dst) == java.nio.file.Files.size(src)
        if (!fresh) {
          val stage = java.nio.file.Files.createTempFile(tmp, ".stage", ".tmp")
          java.nio.file.Files.copy(src, stage,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.move(stage, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
        tmp.toString
      } else path
    val schema = Fixtures.parquetSchema(spark, path)
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** The three-left-folds cosine — bit-identical to the codegen'd
    * `graft_cosine` Expression (dot and both norms accumulated in
    * element order over double-widened values, `dot / sqrt(na * nb)`),
    * so row-local routing decisions agree with the batch plan exactly.
    */
  private def cos(q: Array[Float], c: Array[Double]): Double = {
    val n = math.min(q.length, c.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val a = q(i).toDouble; val b = c(i)
      dot += a * b; na += a * a; nb += b * b
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Streaming twin of q474's ingest ANN assignment — candidate
    * generation for routing arriving vectors through the STANDING
    * index: each new vector picks its cell ROW-LOCALLY against the
    * broadcast standing codebook (argmax cosine, ties to the lower
    * label — the batch plan's (ccos DESC, label) order, decided with
    * the same three-fold cosine arithmetic), then one STATELESS
    * stream-static equi-join on cell scores it against the standing
    * members only. New×old by construction; the standing corpus never
    * shuffles (bucketed by cell id in production) and the codebook is
    * a driver-held map, exactly the [[DocStream.dsirScore]]
    * side-input convention. Top-k selection is the consumer's rank
    * over this bounded per-query set — per-key selection is a sort
    * the append contract doesn't need. StreamingSpec pins the
    * collected candidate set equal to batch q474's pre-rank scored
    * set.
    */
  def ingestAnnCandidates(newVecsStream: DataFrame,
      codebook: Map[Int, Array[Double]],
      standing: DataFrame,
      subBits: Int = 0): Dataset[AnnCand] = {
    val spark = newVecsStream.sparkSession
    import spark.implicits._
    val cells = codebook.toSeq.sortBy(_._1)
    val routed = newVecsStream
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        var bestCell = -1; var bestCos = Double.NegativeInfinity
        cells.foreach { case (label, cvec) =>
          val c = cos(e, cvec)
          if (c > bestCos) { bestCos = c; bestCell = label }
        }
        // batch q474's occupancy sub-cell: sign bits of the first
        // subBits components (a driver-held side input here, like the
        // codebook — recomputed from the standing census at rebuild)
        var sub = 0; var i = 0
        while (i < subBits) { if (e(i) >= 0) sub |= (1 << i); i += 1 }
        (id, bestCell, sub, e)
      }
      .toDF("query_id", "cell", "sub", "qe")
    val standSub = standing.select(col("label").as("cell"),
      col("vec_id").as("neighbor_id"), col("embedding").as("ne"),
      (0 until 8).map(i =>
        when(lit(i) < subBits
          && expr(s"element_at(embedding, ${i + 1})") >= 0,
          1 << i).otherwise(0)).reduce(_ + _).as("sub"))
    routed
      .join(standSub, Seq("cell", "sub")) // stream-static: append-legal
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        expr("graft_cosine(qe, ne)").as("cosine"))
      .as[AnnCand]
  }
}
