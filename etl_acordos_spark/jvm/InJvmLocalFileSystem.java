package etl_acordos_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, minus the processes it forks
 * when no native libhadoop is loaded: a {@code chmod} for every file and
 * directory it creates, and a {@code readlink} for every FileContext
 * rename. Both are done inside the JVM here; every case NIO cannot
 * reproduce exactly still goes through the stock code.
 * {@code fs.file.impl} names this class and
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs}.
 */
public class InJvmLocalFileSystem extends LocalFileSystem {
  public InJvmLocalFileSystem() {
    super(new Raw());
  }

  /** Stock {@code RawLocalFileSystem} with two methods done in-JVM. */
  public static class Raw extends RawLocalFileSystem {
    /** OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    /**
     * Modes up to 0777 through chmod(2). A higher bit requested or
     * already set (sticky, setuid, setgid) goes to the stock shell
     * {@code chmod}: NIO clears those bits, while chmod sets the sticky
     * bit and keeps a directory's setgid.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      java.nio.file.Path file = pathToFile(p).toPath();
      if ((mode & ~0777) != 0 || ((Integer) Files.getAttribute(file, "unix:mode") & 07000) != 0) {
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

    /** A path that is no symlink needs no {@code readlink}. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** The FileContext binding: stock {@code LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Mirrors Hadoop's package-private {@code RawLocalFs}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
