package jobbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system the benchmark runs the job on. Without the native
  * Hadoop library, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file and directory it creates: about 1,100 forks per
  * pass of the job (360 output files, their checksum files and staging
  * directories), which would make the pass time a measure of process
  * creation on the host. This one sets the same permissions through
  * java.nio; everything else, checksum files included, is Hadoop's own.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val rwx = permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
      permission.getOtherAction.SYMBOL
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    ()
  }
}

final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
