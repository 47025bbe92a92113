package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Schema export with MD5 change gate — the reference's first job
  * (db_schema_dump.py:15-102): serialize {table → [[column, data_type]...]}
  * to JSON, hash it, and write a serial-numbered schema file only when the
  * hash differs from the checkpoint's `lastMD5Hash`.
  *
  * The reference excludes two tables from the schema dump — a *different*
  * list than the data-export ignore list (db_schema_dump.py:47 vs
  * db_extractor_full.py:477-492); both lists are preserved verbatim in
  * [[Exporter.SchemaIgnore]] / [[Exporter.DataIgnore]].
  *
  * Driver-only work by design: the schema document is catalog metadata
  * (KBs, not data), so no executor involvement is warranted even at 100 TB.
  */
object SchemaDump {

  /** Build the schema document in catalog order, serialized compactly
    * (keys in table order, columns in ordinal order) so the MD5 is stable
    * across runs — the same stability contract json.dumps gives the
    * reference (db_schema_dump.py:51-64).
    */
  def schemaJson(source: TableSource, ignore: Set[String]): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    source.tableNames.filterNot(ignore.contains).foreach { t =>
      val arr = root.putArray(t)
      source.columns(t).foreach { case (name, tpe) =>
        val col = arr.addArray()
        col.add(name); col.add(tpe)
      }
    }
    m.writeValueAsString(root)
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Result of one schema-dump run. */
  final case class Result(changed: Boolean, hash: String, path: Option[String])

  /** Run the gated export: write `<outDir>/<%06d>_db_schema.json` iff the
    * document hash changed; advance the schema serial + hash in the
    * checkpoint (db_schema_dump.py:66-95).
    *
    * A serial file that already exists is never overwritten. With the
    * same content it is a retry of a run whose checkpoint write did not
    * land, and only the checkpoint advances; with other content the
    * checkpoint is behind an earlier dump (e.g. restarted numbering) and
    * the run fails.
    */
  def run(source: TableSource, outDir: String, store: CheckpointStore,
      ignore: Set[String] = Exporter.SchemaIgnore): Result = {
    val doc = schemaJson(source, ignore)
    val hash = md5Hex(doc)
    val st = store.read()
    if (hash == st.lastMD5Hash) Result(changed = false, hash, None)
    else {
      val serial = st.schemaSerial + 1
      val path = Paths.get(outDir, f"$serial%06d" + "_db_schema.json")
      if (!Files.exists(path)) AtomicFile.write(path, doc)
      else if (Files.readString(path) != doc)
        throw new IllegalStateException(s"$path already holds a different " +
          s"schema dump, but the checkpoint's schema serial is " +
          s"${st.schemaSerial}: refusing to overwrite it")
      store.write(st.copy(schemaSerial = serial, lastMD5Hash = hash))
      Result(changed = true, hash, Some(path.toString))
    }
  }
}
