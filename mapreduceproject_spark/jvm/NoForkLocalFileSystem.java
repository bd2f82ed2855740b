package mapreduceproject_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
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
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem without the chmod and readlink
 * forks.  With no libhadoop loaded, RawLocalFileSystem.setPermission execs
 * chmod for every file, .crc sidecar and directory it creates; here the
 * same 9-bit mode is set in-process.  A sticky bit or a filesystem without
 * POSIX attributes takes the stock path.  getFileLinkStatus, which every
 * FileContext rename calls twice, execs readlink; here the link is read
 * in-process with the stock answers.  Bound as fs.file.impl; {@link Fs} is
 * the FileContext twin (fs.AbstractFileSystem.file.impl).
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

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus fi = linkStatus(f);
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    @Override
    public Path getLinkTarget(Path f) throws IOException {
      return linkStatus(f).getSymlink();
    }

    /**
     * RawLocalFileSystem.deprecatedGetFileLinkStatusInternal, the stock
     * answer unless its test hook useStatIfAvailable() was called.  The
     * link is read from new File(f.toString()) as there, so a qualified
     * file: path is never a symlink, as in the stock filesystem.
     */
    private FileStatus linkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
            fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link
        if (!target.isEmpty()) {
          return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f);
        }
        throw e;
      }
    }

    /** FileUtil.readLink without the fork: the trimmed target, or "" on any failure. */
    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | RuntimeException e) {
        return "";
      }
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
