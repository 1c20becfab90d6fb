package graft.sources

import java.nio.file.{Files, Path}

/** The one storage primitive both table formats commit through: atomic
  * put-if-absent. Delta claims `_delta_log/<version>.json`, Iceberg claims
  * `metadata/v<version>.metadata.json`; exactly one concurrent writer wins
  * each name. A POSIX hard link fails atomically when the target exists,
  * so the content is written to a temp file beside it first and linked
  * into place complete — a reader never sees a partial file. This targets
  * a filesystem with atomic link semantics (local/NFS/HDFS-style); object
  * stores need a commit coordinator. */
private[sources] object LogStore {

  /** Write `content` at `target` unless it exists. True when this call
    * created it, false when another writer already had. */
  def putIfAbsent(target: Path, content: String): Boolean = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, "claim", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.createLink(target, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.delete(tmp)
  }
}
