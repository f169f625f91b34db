package biosample_enricher_spark.jvm;

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
 * Hadoop's checksummed {@code file:} FileSystem, except that permissions are
 * set with a syscall. Without libhadoop, RawLocalFileSystem.setPermission
 * forks {@code chmod} on every file create and every mkdirs with a mode.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /**
   * As Hive's ProxyLocalFileSystem, the {@code file:} FileSystem Spark loads
   * otherwise: a rename onto an existing file fails instead of replacing it.
   */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {
        // PosixFilePermission lists owner, group, others rwx from bit 0400 down
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (PosixFilePermission bit : PosixFilePermission.values()) {
          if ((mode & (0400 >> bit.ordinal())) != 0) {
            perms.add(bit);
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException notPosix) {
          // fall through to Hadoop's own chmod
        }
      }
      super.setPermission(p, permission);
    }
  }
}
