package tabularcdc.fs;

import java.io.File;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem that does its permission and link-status work in-process.
 * Without native libhadoop, stock Hadoop forks {@code chmod} for every file and
 * dir it creates and {@code readlink} for every link-status probe (each
 * FileContext rename). The sticky bit and real symlinks, which java.nio cannot
 * handle the same way, go to the stock code.
 */
public class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  private static final PosixFilePermission[] MODE_BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & 01000) != 0) {
      super.setPermission(p, permission);  // sticky bit: not a PosixFilePermission
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < 9; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // the same test stock Hadoop makes with `readlink f.toString()`
    if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
