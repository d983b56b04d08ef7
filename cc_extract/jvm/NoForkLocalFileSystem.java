package cc_extract;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local FileSystem, with permissions set through java.nio.  Without
 * libhadoop, RawLocalFileSystem.setPermission forks /bin/chmod for every
 * file, checksum file and directory it creates.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    // declared OWNER_READ .. OTHERS_EXECUTE: bit 0400 >> i is BITS[i]
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {  // no sticky bit
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < 9; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // not a POSIX filesystem: chmod as Hadoop does
        }
      }
      super.setPermission(p, permission);
    }
  }
}
