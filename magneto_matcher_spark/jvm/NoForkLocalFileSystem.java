package magneto_matcher_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local FileSystem, with a raw layer that sets file
 * modes through java.nio.  Without the native libhadoop,
 * RawLocalFileSystem.setPermission forks a {@code chmod} process for every
 * file ({@code .parquet}, {@code .crc}, {@code _SUCCESS}) and directory it
 * creates; this sets the same bits in-process.
 *
 * <p>Build (the jar next to this file is what sessions load):
 * <pre>
 * javac --release 17 -cp "$SPARK_HOME/jars/*" -d classes NoForkLocalFileSystem.java
 * jar --create --date 2000-01-01T00:00:00Z --file nofork-localfs.jar -C classes .
 * </pre>
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose only change is {@link #setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky bit: no java.nio equivalent
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission's order is rwx for owner, group, others: mode bit 8 down to 0
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException(e.getMessage());
      } catch (UnsupportedOperationException e) {  // not a POSIX filesystem
        super.setPermission(p, permission);
      }
    }
  }
}
