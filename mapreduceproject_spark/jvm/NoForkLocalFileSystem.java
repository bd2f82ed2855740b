package mapreduceproject_spark.jvm;

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
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem without the chmod fork.  With no
 * libhadoop loaded, RawLocalFileSystem.setPermission execs chmod for every
 * file, .crc sidecar and directory it creates; here the same 9-bit mode is
 * set in-process.  A sticky bit or a filesystem without POSIX attributes
 * takes the stock path.  Bound as fs.file.impl; {@link Fs} is the
 * FileContext twin (fs.AbstractFileSystem.file.impl).
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission.values() runs from OWNER_READ (0400) down to
    // OTHERS_EXECUTE (0001)
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) == 0) {
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
          // not a POSIX filesystem
        }
      }
      super.setPermission(p, permission);
    }
  }

  /** The FileContext local filesystem (org.apache.hadoop.fs.local.LocalFs) over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
