package reactive_data_pipeline_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.LinkOption;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * {@link RawLocalFileSystem} without a process fork per create, mkdir and
 * rename.
 *
 * <p>Without the native Hadoop library the stock class runs {@code chmod}
 * through {@code Shell} in every {@code setPermission} (which every
 * non-append create and every mkdir calls), and {@code readlink} in every
 * {@code getFileLinkStatus} (which a FileContext rename calls on both
 * paths). Here a permission is set with
 * {@link Files#setPosixFilePermissions} and a path that is not a symlink
 * answers {@code getFileLinkStatus} from {@code getFileStatus}, which is
 * what the stock code returns for it. The stock code still handles
 * symlinks, sticky bits, directories carrying setuid/setgid bits (which
 * {@code chmod}'s four-digit octal mode keeps) and hosts where the native
 * library is loaded.
 */
public class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  private static final int S_IFMT = 0170000;
  private static final int S_IFREG = 0100000;
  private static final int S_IFDIR = 0040000;
  private static final int SETID_BITS = 06000;
  /** The enum lists owner rwx, group rwx, others rwx: mode bits 0400 down to 0001. */
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path path = pathToFile(p).toPath();
    if (NativeIO.isAvailable() || permission.getStickyBit() || !plain(path)) {
      super.setPermission(p, permission);
      return;
    }
    short mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (1 << (BITS.length - 1 - i))) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(path, perms);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }

  /** A regular file, or a directory without setuid/setgid bits. */
  private static boolean plain(java.nio.file.Path path) throws IOException {
    int mode;
    try {
      mode = (Integer) Files.getAttribute(path, "unix:mode", LinkOption.NOFOLLOW_LINKS);
    } catch (NoSuchFileException e) {
      return false;
    }
    int type = mode & S_IFMT;
    return type == S_IFREG || (type == S_IFDIR && (mode & SETID_BITS) == 0);
  }
}
