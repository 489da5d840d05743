package spring_and_kafka_spark.jvm;

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
 * Hadoop's checksummed LocalFileSystem over a raw layer that sets
 * permissions with chmod(2) through java.nio instead of forking the
 * chmod command, which RawLocalFileSystem does without libhadoop.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int mode = permission.toShort();
      // NIO cannot set the sticky bit, and it would clear the setuid and
      // setgid bits that chmod keeps on a directory under a 4-digit mode.
      if ((mode & ~0777) != 0
          || ((Integer) Files.getAttribute(file, "unix:mode") & 06000) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }
  }
}
