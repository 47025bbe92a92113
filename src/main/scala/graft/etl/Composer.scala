package graft.etl

import java.nio.file.Path

/** Completion strategy for [[JsonArraySink]]: how the staged parts
  * become ONE object — the final step of the reference's multipart
  * upload (db_extractor_full.py:289-296, a single
  * `complete_multipart_upload` over the sorted part list). Either way
  * the parts come from one `foreachPartition` job whose tasks write and
  * rename their own part files; no Hadoop commit runs.
  *
  * Two strategies, because the two filesystems genuinely differ:
  *
  *  - [[Composer.LocalByteSplice]] (default): on a local FS there is
  *    no part-list API, so the driver streams the staged row lines
  *    once and writes the `[ , ]` framing itself. Since every byte
  *    passes through the driver anyway, this is also where an ordered
  *    table gets its order: each part is a run its task sorted, staged
  *    as `<key>\t<json>` lines with a byte-ordered key, and completion
  *    k-way merges the runs on (key, part index) — no range exchange,
  *    no second scan to sample the range bounds. Output bytes are the
  *    reference's exact object shape (golden-tested).
  *
  *  - [[Composer.PartList]]: on an object store, re-copying every
  *    byte through the driver to add framing would defeat the
  *    distributed encode. Instead the framing is baked in AT ENCODE
  *    TIME (each row emitted as `,{obj}` — one extra literal in the
  *    codegen'd projection, uniform across partitions so no
  *    partition needs to know whether it is globally first), and
  *    completion is ONE [[PartStore.completeByParts]] call whose
  *    part list is: literal `[`, the non-empty fragments in
  *    partition order — the FIRST with `skipLeadingByte` (its
  *    framing comma must not follow `[`) — and literal `]`. No
  *    fragment byte moves through the driver, so nothing there can
  *    merge runs: an ordered table keeps Spark's global `orderBy`,
  *    whose range partitions concatenate in order.
  *
  * The real object-store binding for [[PartStore]] (absent in this
  * offline sandbox — the documented-stub boundary of SURVEY.md §7.4,
  * same as [[CloudStorage]]) maps directly onto public S3 APIs:
  * `CreateMultipartUpload` + one `UploadPartCopy` per staged part
  * (`skipLeadingByte` = a copy-source byte range starting at offset
  * 1 — server-side, nothing downloaded) + `CompleteMultipartUpload`.
  * The tiny literal parts ride the same trick the reference uses for
  * its `[`/`]` bytes: folded into the adjacent buffered part
  * (db_extractor_full.py:262-281 writes `]` into the final buffer
  * flush; only the last part may be under the 5 MB part minimum).
  *
  * Output-byte note: the two strategies produce the same JSON value;
  * `PartList` output carries interstitial newlines (legal JSON
  * whitespace — each staged line keeps its terminator because parts
  * are concatenated verbatim), `LocalByteSplice` output carries
  * none. Parsers see identical arrays; byte-level goldens pin the
  * default strategy.
  */
sealed trait Composer

object Composer {
  case object LocalByteSplice extends Composer
  final case class PartList(store: PartStore) extends Composer
}

/** One entry of a completion part list: either a staged fragment file
  * (read server-side by the store, never by the driver) or a tiny
  * framing literal. `skipLeadingByte` models UploadPartCopy's
  * byte-range source — used exactly once per object, on the first
  * non-empty fragment, to drop its framing comma.
  */
final case class PartSpec(
    path: Option[Path],
    literal: Option[String] = None,
    skipLeadingByte: Boolean = false)

object PartSpec {
  def fragment(p: Path, skipLeadingByte: Boolean = false): PartSpec =
    PartSpec(Some(p), None, skipLeadingByte)
  def lit(s: String): PartSpec = PartSpec(None, Some(s))
}

/** The object-store completion API — the recording-fake boundary for
  * tests; see [[Composer]] for the production S3 mapping.
  */
trait PartStore {
  /** Complete `out` from `parts` in order. Must be called EXACTLY
    * once per object — the contract the reference's single
    * `complete_multipart_upload` call establishes.
    */
  def completeByParts(out: Path, parts: Seq[PartSpec]): Unit
}

/** A [[PartStore]] that materializes the completed object on the
  * local FS by verbatim concatenation — what the object store does
  * server-side. Lets the PartList strategy run end-to-end in tests
  * and doubles as the semantics oracle for the spec's parse-equality
  * check. (This is the STORE doing the byte work inside the
  * completion call, not the sink re-reading fragments.)
  */
object LocalConcatStore extends PartStore {
  def completeByParts(out: Path, parts: Seq[PartSpec]): Unit = {
    val os = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(out), 1 << 20)
    try parts.foreach { p =>
      p.literal.foreach(s =>
        os.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      p.path.foreach { f =>
        val in = new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(f), 1 << 20)
        try {
          if (p.skipLeadingByte) { in.read(): Unit }
          in.transferTo(os): Unit
        } finally in.close()
      }
    } finally os.close()
  }
}
