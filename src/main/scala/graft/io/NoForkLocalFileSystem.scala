package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** `file://` without a forked `chmod` per written file.
  *
  * ASSUMPTION: a local POSIX file system and no libhadoop (the Hadoop
  * client jars ship no native library). Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` as a child process,
  * once for every data file, every `.crc` sidecar and every new
  * directory a write creates — several ms per fork from a large JVM,
  * which set the floor of every small commit. This subclass sets the
  * same nine rwx bits in-process through `java.nio`; the checksum
  * wrapper is Hadoop's own `LocalFileSystem`, so `.crc` sidecars are
  * written exactly as before. `SessionFactory` registers it as
  * `fs.file.impl`.
  */
final class NoForkLocalFileSystem extends LocalFileSystem(new NoForkLocalFileSystem.Raw)

object NoForkLocalFileSystem {
  /** `PosixFilePermission.values` runs owner-read … others-execute,
    * i.e. mode bits 0400 down to 0001.
    */
  private val RwxBits = PosixFilePermission.values.toSeq.zipWithIndex.map { case (p, i) => p -> (0x100 >> i) }

  final class Raw extends RawLocalFileSystem {
    /** The callers (create, mkdirs) pass the umask-applied permission,
      * exactly what the forked `chmod` would set. Falls back to the
      * fork for what a nine-bit nio mode cannot carry: a sticky bit
      * asked for, or a file already holding setuid/setgid/sticky bits
      * (`chmod` keeps a directory's setgid; nio would clear it), and
      * for a store without the POSIX attribute views.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val viaNio = !permission.getStickyBit && (try {
        if ((Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0) false
        else {
          val mode = permission.toShort.toInt
          val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
          RwxBits.foreach { case (perm, bit) => if ((mode & bit) != 0) perms.add(perm) }
          Files.setPosixFilePermissions(file, perms)
          true
        }
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException => false
      })
      if (!viaNio) super.setPermission(p, permission)
    }
  }
}
