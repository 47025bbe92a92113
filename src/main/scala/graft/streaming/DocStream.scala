package graft.streaming

import graft.Fixtures
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection over a document stream — the
  * streaming twin of the batch MinHash+LSH pass (q18), completing the
  * dedup family's streaming story the way sessionization already has
  * its continuous twin.
  *
  * Shape: a stateless row-local signature projection
  * ([[Dedup.minhashBandsRowLocal]]) fans each arriving document out to
  * its 8 (band, bkey) LSH buckets, then ONE stateful stage — keyed by
  * bucket — holds the doc ids previously seen in that bucket and emits
  * a candidate pair for every (new doc, prior member). That is exactly
  * the batch band-table self-join unrolled over time: the self-join
  * becomes membership state, so candidates appear incrementally as
  * documents arrive instead of in a terminal corpus pass.
  *
  * State is bounded per bucket by [[MaxBucketMembers]] (LSH bucket
  * population concentrates near 1 for non-duplicate content; a bucket
  * at the cap is a degenerate key — e.g. the all-same-token document —
  * whose candidates are already emitted pairwise up to the cap, the
  * same df-cap reasoning as q48's hot-shingle guard). A pair that
  * collides in several bands is emitted once per band; downstream
  * consumers dedup with `dropDuplicates` (bounded by a watermark in a
  * true continuous deployment) exactly as the batch path dedups its
  * candidate list.
  */
object DocStream {

  final case class BandRow(doc_id: Long, band: Int, bkey: String)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** Hard per-bucket membership cap — bounded state on an unbounded
    * stream, the invariant every stateful streaming operator here
    * maintains. */
  val MaxBucketMembers = 1024

  /** Documents as an unbounded stream from a parquet source (same
    * single-file staging contract as [[EventStream.readEvents]]). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val streamDir =
      if (new java.io.File(path).isFile) {
        val src = java.nio.file.Paths.get(path)
        val tag = java.lang.Integer.toHexString(path.hashCode)
        val tmp = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), s"graft_stream_doc_$tag")
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

  final case class SpanRow(doc_id: Long, span_key: String, span: String)
  final case class SpanState(n: Long, first: Long, last: Long, span: String)
  final case class SpanHit(span_key: String, span: String, n_docs: Long,
      first_doc: Long, last_doc: Long)

  /** Streaming twin of q151's repeated-span worklist (exact-substring
    * dedup's unit of removal, Lee et al. 2022): each arriving document
    * fans out to its distinct 8-token windows in a STATELESS projection
    * (the same in-scan window build as the batch query — no shuffle of
    * text, only (16-byte key, span, doc_id) rows), then one stateful
    * stage keyed by span_key maintains the worklist aggregate and
    * re-emits a span's row every microbatch its doc set grows while
    * ≥ 2 documents contain it. Consumers keep the LATEST row per key —
    * exactly how the batch worklist is refreshed by a nightly run, but
    * incremental.
    *
    * State per key is CONSTANT SIZE — (count, min doc, max doc, min
    * span) — unlike the LSH twin's member list there is no pair
    * emission, so no membership needs remembering and an adversarial
    * hot span (boilerplate in millions of docs) costs the same state
    * as a rare one. Exactly-once per doc is the source contract
    * (upstream replays are dropped by `dropDuplicatesWithinWatermark`,
    * the [[EventStream.dedupedEvents]] pattern); the span string rides
    * in state so emission needs no side lookup, capped to the 8-token
    * window length by construction.
    */
  def spanWorklist(docsStream: DataFrame): Dataset[SpanHit] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    docsStream
      .select(col("doc_id"),
        explode(expr("graft_token_spans(text, 8)")).as("span"))
      .select(col("doc_id"), md5(col("span")).as("span_key"), col("span"))
      .as[SpanRow]
      .groupByKey(_.span_key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[SpanRow], state: GroupState[SpanState]) =>
          val prev = state.getOption
          var n = prev.map(_.n).getOrElse(0L)
          var first = prev.map(_.first).getOrElse(Long.MaxValue)
          var last = prev.map(_.last).getOrElse(Long.MinValue)
          var span = prev.map(_.span).orNull
          var grew = false
          rows.foreach { r =>
            n += 1
            grew = true
            if (r.doc_id < first) first = r.doc_id
            if (r.doc_id > last) last = r.doc_id
            // min(span) mirrors the batch aggregate: md5 collisions
            // between different spans resolve identically either way
            if (span == null || r.span < span) span = r.span
          }
          state.update(SpanState(n, first, last, span))
          if (grew && n >= 2) Iterator(SpanHit(key, span, n, first, last))
          else Iterator.empty
      }
  }

  final case class KeyRow(doc_id: Long, content_key: String)
  final case class ExactState(n: Long, canonical: Long)
  final case class ExactRow(content_key: String, n_docs: Long,
      canonical_id: Long)

  /** Streaming twin of q17's EXACT dedup — the admit-at-ingest shape:
    * each arriving document is hashed with the batch content key
    * (lowercase → strip non-alnum → squeeze spaces → md5, verbatim
    * q17) and one stateful stage keyed by content_key maintains
    * (count, min doc id), re-emitting the key's row every microbatch
    * it grows. Consumers keep the LATEST row per key; after an
    * AvailableNow backfill that latest row set IS the batch q17
    * result — min is batch-split-invariant, so the equivalence holds
    * under any microbatch partitioning of the input. State per key is
    * CONSTANT SIZE (two longs) — an adversarial hot key (a megacorpus
    * of one boilerplate page) costs the same state as a singleton,
    * the [[spanWorklist]] guarantee.
    */
  def exactDedup(docsStream: DataFrame): Dataset[ExactRow] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    docsStream
      .select(col("doc_id"),
        md5(expr("graft_norm_text(text)")).as("content_key"))
      .as[KeyRow]
      .groupByKey(_.content_key)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyRow], state: GroupState[ExactState]) =>
          val prev = state.getOption.getOrElse(ExactState(0L, Long.MaxValue))
          var n = prev.n
          var canonical = prev.canonical
          rows.foreach { r =>
            n += 1
            if (r.doc_id < canonical) canonical = r.doc_id
          }
          state.update(ExactState(n, canonical))
          if (n > prev.n) Iterator(ExactRow(key, n, canonical))
          else Iterator.empty
      }
  }

  /** LSH candidate pairs from a document stream: signature projection →
    * per-bucket membership state → incremental pair emission. Emits
    * `(doc_a, doc_b)` with `doc_a < doc_b`, one row per (pair, band)
    * collision. Works identically on a batch DataFrame (the state
    * function sees each bucket once) — StreamingSpec proves the
    * AvailableNow backfill equals the batch q18 candidate set.
    */
  def lshCandidates(docsStream: DataFrame): Dataset[CandPair] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    Dedup.minhashBandsRowLocal(docsStream)
      .select(col("doc_id"), col("band"), col("bkey"))
      .as[BandRow]
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[BandRow],
         state: GroupState[Seq[Long]]) =>
          val prev = state.getOption.getOrElse(Seq.empty)
          // deterministic emission order inside a microbatch: new ids
          // sorted, so (a, b) pairs are independent of row arrival order
          val fresh = rows.map(_.doc_id).toArray.distinct.sorted
            .filterNot(prev.contains)
          val out = Seq.newBuilder[CandPair]
          var members = prev
          fresh.foreach { id =>
            if (members.size < MaxBucketMembers) {
              members.foreach { m =>
                out += CandPair(math.min(id, m), math.max(id, m))
              }
              members = members :+ id
            }
          }
          state.update(members)
          out.result().iterator
      }
  }

  final case class DocAdmit(doc_id: Long, source: String, n_tok: Long,
      kept: Int)

  /** Streaming twin of q173's mixture-sample APPLY — admission control
    * at ingest: each arriving document is kept iff
    * h32('mix_'‖doc_id) mod 1e6 < its source's accept rate (the exact
    * batch contract, a pure function of the id), with the
    * |sources|-row rate table broadcast as a plain map. STATELESS —
    * membership never depends on what else arrived, so the gate
    * scales embarrassingly and a replayed document gets the identical
    * verdict (exactly-once admission without any state store). Rates
    * come from a batch pass (q173); in production they refresh per
    * epoch while the gate keeps streaming.
    */
  def mixtureGate(docsStream: DataFrame,
      rateMicroBySource: Map[String, Long]): Dataset[DocAdmit] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(rateMicroBySource)
    docsStream
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h32(t: String): Long = {
          md.reset()
          val d = md.digest(t.getBytes("UTF-8"))
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        }
        rows.map { case (id, src, text) =>
          val u = h32(s"mix_$id") % 1000000L
          val r = bc.value.getOrElse(src, 0L)
          // split(" ", -1) keeps trailing empty tokens — Spark SQL
          // split's semantics, which the batch q173 contract counts.
          DocAdmit(id, src, text.split(" ", -1).length.toLong,
            if (u < r) 1 else 0)
        }
      }
  }

  final case class DocDsir(doc_id: Long, source: String, n_tok: Long,
      lw_units: Long)

  /** Streaming twin of q244's DSIR scorer — the score-at-ingest shape:
    * each arriving document is scored STATELESS against a
    * driver-broadcast per-token log-importance model
    * ([[graft.queries.TextOps.dsirModel]], vocab-sized nano-unit
    * ratios; in production the model refreshes per epoch while the
    * scorer keeps streaming). Tokens the model has never seen score
    * `unseenUnits` (a stream can see vocabulary the corpus pass did
    * not; the batch path never hits this arm because its docs ARE the
    * corpus). No state, no shuffle, no watermark — the per-doc weight
    * is one exact int64 sum, so a replayed document gets the identical
    * score. split(" ", -1) keeps trailing empty tokens — Spark SQL
    * split's semantics, which the batch explode counts.
    */
  def dsirScore(docsStream: DataFrame, lwUnitsByToken: Map[String, Long],
      unseenUnits: Long): Dataset[DocDsir] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(lwUnitsByToken)
    docsStream
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, src, text) =>
          val toks = text.split(" ", -1)
          var lw = 0L
          var i = 0
          while (i < toks.length) {
            lw += bc.value.getOrElse(toks(i), unseenUnits)
            i += 1
          }
          DocDsir(id, src, toks.length.toLong, lw)
        }
      }
  }

  final case class DocDecision(doc_id: Long, source: String, n_tok: Long,
      dropped: Int)

  /** Streaming twin of q183's decontamination APPLY — the filter-at-
    * ingest shape: each arriving document is judged STATELESS against
    * a driver-broadcast benchmark shingle set (eval suites are
    * MB-sized against a 100 TB corpus, so the set rides to every
    * executor once and the stream stays embarrassingly parallel — no
    * state, no shuffle, no watermark). The per-doc decision is the
    * batch contract verbatim: distinct trigram-shingle hashes
    * ((h(t1)·C1 + h(t2)·C2 + h(t3)) mod P over h32 token hashes),
    * dropped iff 2·|hits| > |shingles|; docs too short to shingle are
    * kept. One MessageDigest per partition, not per row (the
    * [[graft.ops.Multimodal]] decode-stub discipline).
    */
  def decontaminate(docsStream: DataFrame,
      benchKeys: Set[Long]): Dataset[DocDecision] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(benchKeys)
    docsStream
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h32(t: String): Long = {
          md.reset()
          val d = md.digest(t.getBytes("UTF-8"))
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        }
        rows.map { case (id, src, text) =>
          // split(" ", -1): Spark SQL split keeps trailing empties; the
          // batch q183 shingle/token counts are defined over that.
          val toks = text.split(" ", -1)
          val dropped = if (toks.length < 3) 0 else {
            val hts = toks.map(h32)
            val shs = (0 until hts.length - 2).iterator
              .map(i => (hts(i) * Dedup.C1 + hts(i + 1) * Dedup.C2 +
                hts(i + 2)) % Dedup.P)
              .toSet
            val hits = shs.count(bc.value.contains)
            if (2L * hits > shs.size) 1 else 0
          }
          DocDecision(id, src, toks.length.toLong, dropped)
        }
      }
  }

  final case class DocGopher(doc_id: Long, source: String, n_words: Long,
      r_count: Long, r_len: Long, r_stop: Long, r_rep: Long, pass_all: Long)

  /** Streaming twin of q257's Gopher-style filter battery — the
    * judge-at-ingest shape: all four rules are pure per-document
    * functions (word count band, mean-word-length band via
    * cross-multiplied integer bounds, distinct-stop-word presence,
    * duplicate-trigram fraction over the SAME hashed-shingle contract
    * as the batch posting table: (h32·C1 + h32·C2 + h32) mod P,
    * distinct), so the stream needs no state, no shuffle, and no
    * watermark, and a replayed document gets the identical verdict.
    * Docs too short to shingle pass the repetition rule (no evidence
    * of repetition), mirroring the batch inner join that only ever
    * sees ≥3-token docs. split(" ", -1) keeps trailing empty tokens —
    * the batch `size(split(text, ' '))` counts them.
    */
  def gopherFlags(docsStream: DataFrame): Dataset[DocGopher] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    val stops = Set("a", "the", "key", "value")
    docsStream
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h32(t: String): Long = {
          md.reset()
          val d = md.digest(t.getBytes("UTF-8"))
          ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        }
        rows.map { case (id, src, text) =>
          val toks = text.split(" ", -1)
          val n = toks.length.toLong
          val chars = text.length.toLong - (n - 1)
          val rCount = if (n >= 50 && n <= 100000) 1L else 0L
          val rLen = if (3 * n <= chars && chars <= 5 * n) 1L else 0L
          val rStop =
            if (toks.iterator.filter(stops).toSet.size >= 2) 1L else 0L
          val rRep = if (n < 3) 1L else {
            val hts = toks.map(h32)
            val nd = (0 until hts.length - 2).iterator
              .map(i => (hts(i) * Dedup.C1 + hts(i + 1) * Dedup.C2 +
                hts(i + 2)) % Dedup.P)
              .toSet.size.toLong
            val total = n - 2
            if ((total - nd) * 100 <= total) 1L else 0L
          }
          DocGopher(id, src, n, rCount, rLen, rStop, rRep,
            rCount * rLen * rStop * rRep)
        }
      }
  }

  /** Streaming twin of q309's sample-ratio-mismatch gate: the running
    * train/val/test counts of the q37 deterministic split, maintained
    * as a 3-group running aggregate (complete mode — state is three
    * rows at ANY corpus size) while a backfill or live ingest runs.
    * An experimentation platform watches this feed and trips the SRM
    * alarm the moment the realized ratios drift from 80/10/10 —
    * BEFORE a biased assignment contaminates downstream metrics; the
    * batch query then recomputes the full χ² on the settled corpus.
    * The split expression is byte-identical to the batch side
    * (Portable.splitCaseSpark), so StreamingSpec proves count
    * equality under AvailableNow.
    */
  def srmCounts(docsStream: DataFrame): DataFrame =
    docsStream
      .select(expr(graft.ops.Portable.splitCaseSpark).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("obs"))

  final case class IngestHit(doc_new: Long, n_new: Long, doc_old: Long,
      n_old: Long)
  final case class IngestDup(doc_new: Long, doc_old: Long, n_common: Long,
      jaccard: Double)

  /** Streaming twin of q104's incremental near-dup INGEST join — the
    * day-to-day 100 TB dedup shape: each arriving document is shingled
    * row-locally ([[Dedup.shinglesRowLocal]], the exact batch trigram
    * hash) and stream-static joined against the STANDING corpus
    * inverted index on shingle hash — new×old only, never old×old, the
    * same contract as the batch query. The join fans a new doc out to
    * its matching corpus posting lists; one stateful stage keyed by
    * (doc_new, doc_old) accumulates the intersection size and emits the
    * pair's row whenever it grows past the exact-Jaccard threshold
    * (q20 arithmetic: n∩ / (n_old + n_new − n∩); both set sizes ride
    * the join rows, so no second aggregate touches the stream).
    *
    * A document's rows arrive atomically (one stream row explodes to
    * all its shingles inside one microbatch), so a pair's count is
    * complete at its first group invocation; the state — three longs
    * per COLLIDING pair, not per pair of docs — exists to keep
    * re-emission monotone if the same doc id is ever re-crawled, and in
    * a continuous deployment would carry a TTL the same way the batch
    * side re-bootstraps. Consumers keep the LATEST row per pair; after
    * an AvailableNow backfill that set filtered at `threshold` IS the
    * batch q104 result (StreamingSpec pins it).
    *
    * `standingInv` is a BATCH posting table (doc_id, h) — in production
    * a bucketed table keyed by shingle hash, so the per-microbatch join
    * co-locates against it without shuffling the corpus.
    */
  /** Streaming twin of q473's asymmetric LSH band join — candidate
    * generation for cross-snapshot ingest dedup: each arriving document
    * computes its 8 (band, bkey) LSH rows ROW-LOCALLY
    * ([[Dedup.minhashBandsRowLocal]], byte-identical to the batch band
    * projection) and stream-static joins them against the STANDING
    * corpus band table — either the session-built
    * [[graft.ops.Dedup.corpusBands]] or, the live-deployment shape,
    * the bootstrap-written bucketed catalog artifact
    * ([[graft.ops.StandingIndex.bands]]; StreamingSpec pins both
    * static sides to the same candidate set). The join is
    * completely STATELESS — new×old candidate pairs append as documents
    * arrive, 8 fixed-width probe rows per doc regardless of document
    * length (vs [[ingestNearDups]]'s per-shingle posting probes) — and
    * a pair colliding in several bands is emitted once per band, the
    * standing DocStream convention (consumers `dropDuplicates`, bounded
    * by a watermark in a continuous deployment). The exact-Jaccard
    * verify stage composes downstream exactly as in batch: feed the
    * distinct candidates to [[ingestNearDups]]'s stateful intersection
    * or to a per-batch posting join. StreamingSpec pins the collected
    * distinct candidate set equal to the batch q473 `cand` set.
    */
  def ingestLshCandidates(newDocsStream: DataFrame,
      standingBands: DataFrame): DataFrame =
    Dedup.minhashBandsRowLocal(newDocsStream)
      .select(col("doc_id").as("doc_new"), col("band"), col("bkey"))
      .join(standingBands
          .select(col("doc_id").as("doc_old"), col("band"), col("bkey")),
        Seq("band", "bkey")) // stream-static inner join: append-legal
      .select(col("doc_new"), col("doc_old"))

  /** STREAMING INDEX MAINTENANCE — the write-back half the probe-only
    * twins above leave out: accepted documents flow INTO the standing
    * LSH index as they arrive, so tomorrow's probes (streaming or
    * batch) see today's accepted stream without any batch re-shingle.
    * Each micro-batch is one [[graft.ops.StandingIndex.compactInto]]
    * generation: shingle the batch docs
    * ([[graft.ops.Dedup.invertedOf]] — the exact batch-path build),
    * append posting + band rows under the writer lock, publish via
    * the atomic manifest swap. The commit protocol gives the
    * streaming path its crash story for free: a micro-batch that dies
    * mid-append leaves an orphan generation no reader resolves, and
    * the retry appends under a fresh id — readers see each accepted
    * batch exactly once or not yet, never partially.
    *
    * foreachBatch (not a continuous sink) on purpose: index
    * maintenance is a MUTATION of shared catalog state, not an
    * append-only row emission — the per-batch hook is where Structured
    * Streaming hands over exactly-once batch boundaries for arbitrary
    * sinks, and the single-writer lock serializes it against any
    * concurrent batch compaction job. Cost per batch ∝ batch size
    * (two bucketed appends); the standing corpus is never rescanned.
    * StreamingSpec proves stream-maintained artifacts ≡ the batch
    * two-generation story ([[graft.ops.StandingIndex.ensureCompacted]])
    * under `Trigger.AvailableNow`, re-using q529's oracle-gated probe.
    */
  def maintainStandingIndex(acceptedDocsStream: DataFrame,
      arts: graft.ops.StandingIndex.Artifacts)
      : org.apache.spark.sql.streaming.StreamingQuery =
    acceptedDocsStream
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.StandingIndex.compactInto(
            batch.sparkSession, arts, Dedup.invertedOf(batch))
      }
      .start()

  /** Streaming twin of q491's asymmetric SimHash block join — the
    * 8-byte-signature member of the ingest candidate family: each
    * arriving document computes its 32-bit SimHash ROW-LOCALLY (the
    * majority-bit fold as 32 `filter`-count HOFs over the row's own
    * shingle array — per-row interpreted cost, the standing DocStream
    * statelessness price; the batch path keeps the codegen'd
    * aggregation) and stream-static joins its 2 16-bit half-block rows
    * against the STANDING block table
    * ([[graft.ops.Dedup.simhashBlocks]] over the standing slice in
    * batch; the persisted bucketed block index in production).
    * Stateless append: (doc_new, doc_old, hamming) pairs emit as
    * documents arrive — the exact-Hamming verify needs no second
    * pass because both signatures ride the join row. A pair
    * colliding in several blocks emits once per block (consumers
    * `dropDuplicates`, the DocStream convention). StreamingSpec pins
    * the collected distinct pair set equal to batch q491's candidate
    * set.
    */
  def ingestSimhashCandidates(newDocsStream: DataFrame,
      standingBlocks: DataFrame): DataFrame = {
    import graft.ops.Dedup.{C1, C2, P}
    import graft.ops.Portable
    val hts = s"transform(split(text, ' '), t -> ${Portable.h32Spark("t")})"
    val shs = s"array_distinct(transform(sequence(0, size(hts) - 3), " +
      s"i -> (element_at(hts, i + 1) * $C1 + element_at(hts, i + 2) * $C2" +
      s" + element_at(hts, i + 3)) % $P))"
    val sigExpr = (0 until 32).map { b =>
      s"(CASE WHEN 2 * size(filter(shs, h -> (h div ${1L << b}) % 2 = 1))" +
        s" > size(shs) THEN ${1L << b}L ELSE 0L END)"
    }.mkString(" + ")
    // q491's width-for-scale banding: 2×16-bit half-blocks (65 536
    // buckets per block — see q491's docstring for the collision math)
    val blockCols = (0 until 2).map(i =>
      expr(s"(simhash div ${1L << (16 * i)}) % 65536"))
    newDocsStream
      .where(expr("size(split(text, ' ')) >= 3"))
      .withColumn("hts", expr(hts))
      .withColumn("shs", expr(shs))
      .withColumn("simhash", expr(sigExpr))
      .select(col("doc_id").as("doc_new"), col("simhash").as("sig_new"),
        posexplode(array(blockCols: _*)).as(Seq("blk", "bval")))
      .join(standingBlocks
          .select(col("doc_id").as("doc_old"),
            col("simhash").as("sig_old"), col("blk"), col("bval")),
        Seq("blk", "bval")) // stream-static inner join: append-legal
      .select(col("doc_new"), col("doc_old"),
        expr("bit_count(sig_new ^ sig_old)").as("hamming"))
  }

  final case class DocBucket(doc_id: Long, bucket: Long)

  /** Streaming twin of q477's frozen-edge quality gate — the
    * bucket-assignment stage as a STATELESS map: each arriving
    * document computes its q14 quality score row-locally (same
    * expression-tree order as the batch plan, so doubles agree
    * bit-for-bit on the ASCII corpus) and walks the driver-held
    * frozen boundaries (bucket, hq, hd) — 9 tuples cut on the
    * standing corpus at calibration time, the [[dsirScore]]
    * side-input convention — assigning the first bucket whose
    * (quality, doc_id) boundary bounds it, open-ended bucket 10
    * above all. The PSI fold itself stays a downstream aggregation
    * over these assignments (per-bucket counts are the only state a
    * continuous gate keeps). StreamingSpec pins the stream's
    * per-bucket counts equal to batch q477's n_batch column.
    */
  def qualityBucket(docsStream: DataFrame,
      bounds: Seq[(Long, Double, Long)]): Dataset[DocBucket] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bounds.sortBy(_._1))
    docsStream
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, text) =>
          val toks = text.split(" ", -1)
          val n = toks.length.toDouble
          val ttr = toks.distinct.length.toDouble / n
          var stop = 0
          var i = 0
          while (i < toks.length) {
            val t = toks(i)
            if (t == "the" || t == "a" || t == "of" || t == "to"
              || t == "and") stop += 1
            i += 1
          }
          val alpha = 1.0 -
            text.replaceAll("[a-z ]", "").length.toDouble / text.length
          val lf = math.min(n / 50.0, 1.0)
          // the batch expression tree's exact association order
          val q = 0.3 * ttr + 0.2 * (1.0 - stop.toDouble / n) +
            0.2 * alpha + 0.3 * lf
          var bucket = 10L
          var k = 0
          var done = false
          val bs = bc.value
          while (k < bs.length && !done) {
            val (b, hq, hd) = bs(k)
            if (q < hq || (q == hq && id <= hd)) { bucket = b; done = true }
            k += 1
          }
          DocBucket(id, bucket)
        }
      }
  }

  final case class SampleMins(mins: Seq[Long])

  /** Streaming twin of q482's bottom-K uniform sample — reservoir
    * sampling in its deterministic, mergeable streaming form: each
    * arriving document's 52-bit identity hash is computed row-locally
    * (the Portable h52 contract, byte-identical to the batch
    * projection), and ONE stateful stage folds every microbatch into
    * the running bottom-K — K longs of TOTAL state on an unbounded
    * stream, emitted after each batch (Update mode). The fold is the
    * same merge the batch KmvAgg performs (k smallest of k-smallests),
    * so at any point the emitted state equals a batch bottom-K over
    * everything ingested so far — StreamingSpec pins exactly that
    * against q482's `mins_full`. Single-group state here; a production
    * layout keeps per-partition partials and merges on read, the same
    * two-level shape the batch aggregate uses.
    */
  def sampleBottomK(docsStream: DataFrame, k: Int): Dataset[SampleMins] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    docsStream
      .select(expr(graft.ops.Portable
        .h52Spark("concat('smp_', cast(doc_id AS STRING))")).as("h"))
      .as[Long]
      .groupByKey(_ => 0)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[Long], state: GroupState[Seq[Long]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++ rows)
            .distinct.sorted.take(k)
          state.update(merged)
          SampleMins(merged)
      }
  }

  final case class ShardSketch(shard: Int, tokens: Seq[String],
      ests: Seq[Long], n: Long)

  /** Streaming twin of q509's heavy-hitter pass: a continuously
    * maintained Misra–Gries sketch, sharded by token hash so state
    * distributes — each shard's ≤k-counter map is the same MG update
    * rule as the batch `graft_freq_sketch` aggregate (FreqSketch.scala)
    * over that shard's (disjoint) token slice.
    *
    * Superset guarantee carried over from batch: a token with corpus
    * count > n/(k+1) has, inside its own shard, count > n_shard/(k+1)
    * (shards partition tokens, so n_shard ≤ n and the token's count is
    * undiminished) — so every batch heavy hitter is PRESENT in its
    * shard's streaming state at every point after its arrivals. The
    * StreamingSpec twin asserts exactly that against the gated q509
    * result. State is k counters per shard — bounded on an unbounded
    * stream.
    */
  def heavyHitterSketch(docsStream: DataFrame, k: Int = 64,
      shards: Int = 16): Dataset[ShardSketch] = {
    val spark = docsStream.sparkSession
    import spark.implicits._
    docsStream
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .select(col("token"),
        pmod(xxhash64(col("token")), lit(shards)).cast("int").as("shard"))
      .as[(String, Int)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[(String, Int)],
         state: GroupState[(Map[String, Long], Long)]) =>
          val (m0, n0) = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          val m = scala.collection.mutable.HashMap[String, Long](m0.toSeq: _*)
          var n = n0
          rows.foreach { case (tok, _) =>
            n += 1
            graft.expressions.FreqSketch.mgUpdate(m, tok, k)
          }
          state.update((m.toMap, n))
          val sorted = m.toSeq.sortBy { case (t, c) => (-c, t) }
          ShardSketch(shard, sorted.map(_._1), sorted.map(_._2), n)
      }
  }

  def ingestNearDups(newDocsStream: DataFrame, standingInv: DataFrame,
      threshold: Double = 0.8): Dataset[IngestDup] = {
    val spark = newDocsStream.sparkSession
    import spark.implicits._
    val sizes = standingInv.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_old"))
    val old = standingInv.select(col("doc_id").as("doc_old"), col("h"))
      .join(sizes.select(col("doc_id").as("doc_old"), col("n_old")),
        "doc_old")
    Dedup.shinglesRowLocal(newDocsStream)
      .select(col("doc_id").as("doc_new"), col("n_sh").as("n_new"),
        col("h"))
      .join(old, "h") // stream-static inner join: append-legal
      .select(col("doc_new"), col("n_new"), col("doc_old"), col("n_old"))
      .as[IngestHit]
      .groupByKey(r => (r.doc_new, r.doc_old))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), rows: Iterator[IngestHit],
         state: GroupState[Long]) =>
          var nNew = 0L
          var nOld = 0L
          var fresh = 0L
          rows.foreach { r => nNew = r.n_new; nOld = r.n_old; fresh += 1 }
          val n = state.getOption.getOrElse(0L) + fresh
          state.update(n)
          val j = n.toDouble / (nOld + nNew - n)
          if (j >= threshold)
            Iterator(IngestDup(key._1, key._2, n, j))
          else Iterator.empty
      }
  }
}
