package engine.jvm;

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
 * Hadoop's checksummed local FileSystem, minus one process per created path.
 *
 * <p>Without libhadoop, {@code RawLocalFileSystem.setPermission} runs
 * {@code chmod} in a child process, and every file, {@code .crc} side file
 * and directory a Spark write creates goes through it. Here the raw layer
 * sets the same mode through {@code java.nio} instead. Everything else,
 * checksums included, is Hadoop's own. It stays a {@link LocalFileSystem},
 * because {@code FileSystem.getLocal} casts to that class.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }

  static final class NoForkRawLocalFileSystem extends RawLocalFileSystem {

    // in the order of the mode bits, 0400 down to 0001
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_EXECUTE,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        // the sticky bit has no nio name: let Hadoop set the whole mode
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
