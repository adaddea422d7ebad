package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]].
  * [[Sessions]] pins it as `fs.file.impl`, so every `file:` path a
  * session writes sets its permission bits in-process. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` calls
  * `Files.setPosixFilePermissions`. Without Hadoop's native library the
  * stock class runs a `chmod` process for every directory and file it
  * creates (nine per single-file parquet write); the bits set are the
  * same. Bits outside rwx (sticky, setuid, setgid), and a store without
  * POSIX attributes, go to Hadoop's own call. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner r, w, x, then group, then others:
      // the order of the bits from 0400 down to 0001
      PosixFilePermission.values.foreach(q => if ((bits & (0x100 >> q.ordinal)) != 0) set.add(q))
      try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
