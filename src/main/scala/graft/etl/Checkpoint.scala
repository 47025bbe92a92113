package graft.etl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The reference's single checkpoint document, stored in SSM Parameter
  * Store as a JSON SecureString (reference: README.md:32-45 seed shape;
  * read src/db_extractor_full.py:429-436; write :540-551):
  *
  * {"data":{"lastRunTime":"...","serialNumber":N},
  *  "schema":{"serialNumber":N,"lastMD5Hash":"..."}}
  */
final case class CheckpointState(
    lastRunTime: String,
    dataSerial: Long,
    schemaSerial: Long,
    lastMD5Hash: String) {

  def toJson: String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val data = root.putObject("data")
    data.put("lastRunTime", lastRunTime)
    data.put("serialNumber", dataSerial)
    val sch = root.putObject("schema")
    sch.put("serialNumber", schemaSerial)
    sch.put("lastMD5Hash", lastMD5Hash)
    m.writeValueAsString(root)
  }
}

object CheckpointState {

  /** Parses a present checkpoint document. Every field of the document
    * shape above is required: a torn write (empty file, `{}`, truncated
    * JSON) must fail the run, never read as serial 0 and restart the
    * numbering over an earlier export. Only an ABSENT document is the
    * [[seed]], which the stores decide.
    */
  def fromJson(s: String): CheckpointState = {
    val n = new ObjectMapper().readTree(s)
    def field(obj: String, name: String): JsonNode = {
      val v = Option(n).map(_.path(obj).path(name)).filter(_.isValueNode)
      require(v.exists(!_.isNull),
        s"torn checkpoint: missing $obj.$name in ${s.take(200)}")
      v.get
    }
    def serial(obj: String): Long = {
      val v = field(obj, "serialNumber")
      require(v.canConvertToExactIntegral,
        s"torn checkpoint: $obj.serialNumber is not an integer: $v")
      v.asLong()
    }
    CheckpointState(
      lastRunTime = field("data", "lastRunTime").asText(),
      dataSerial = serial("data"),
      schemaSerial = serial("schema"),
      lastMD5Hash = field("schema", "lastMD5Hash").asText())
  }

  /** Fresh seed — serials at 0, epoch watermark (everything exports). */
  val seed: CheckpointState =
    CheckpointState("1970-01-01 00:00:00", 0L, 0L, "")
}

/** Driver-side state store behind a trait: file-backed for tests/local,
  * an SSM `get_parameter`/`put_parameter` implementation plugs in for
  * AWS (kept out of this build: no SDK in the offline environment).
  */
trait CheckpointStore {
  def read(): CheckpointState
  def write(st: CheckpointState): Unit
}

final class FileCheckpointStore(path: Path) extends CheckpointStore {
  override def read(): CheckpointState =
    if (Files.exists(path)) CheckpointState.fromJson(Files.readString(path))
    else CheckpointState.seed

  /** Replaces the document atomically ([[AtomicFile.write]]); the temp
    * file a crash before the rename leaves is one [[read]] ignores.
    */
  override def write(st: CheckpointState): Unit =
    AtomicFile.write(path, st.toJson)
}

/** Whole-document writes for the run's small driver-side files (the
  * checkpoint, the schema dump, the export manifest).
  */
private[etl] object AtomicFile {

  /** Writes a dot-prefixed temp file beside `path`, then renames it over
    * `path` atomically: a reader sees the old document or the new one,
    * never a truncated one. A crash before the rename leaves only the
    * dot-prefixed temp file.
    */
  def write(path: Path, content: String): Unit = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".${path.getFileName}.", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE): Unit
    } finally Files.deleteIfExists(tmp): Unit
  }
}

object FileCheckpointStore {
  def apply(p: String): FileCheckpointStore =
    new FileCheckpointStore(Paths.get(p))
}

/** SSM Parameter Store checkpoint — the reference's actual store
  * (get_parameter with decryption, db_extractor_full.py:429-436;
  * put_parameter as SecureString overwrite, :540-551). The AWS SDK is
  * unavailable in this offline build, so the two SSM calls are
  * INJECTED: a deployment passes closures over its SDK client
  * (`GetParameter(WithDecryption=true)` / `PutParameter(Type=
  * SecureString, Overwrite=true)`); tests pass an in-memory map. All
  * checkpoint semantics (seed on absence, JSON document shape, gated
  * advance) live in this class and Exporter, not in the transport.
  */
final class SsmCheckpointStore(
    parameterName: String,
    getParameter: String => Option[String],
    putParameter: (String, String) => Unit) extends CheckpointStore {

  override def read(): CheckpointState =
    getParameter(parameterName)
      .map(CheckpointState.fromJson)
      .getOrElse(CheckpointState.seed)

  override def write(st: CheckpointState): Unit =
    putParameter(parameterName, st.toJson)
}
