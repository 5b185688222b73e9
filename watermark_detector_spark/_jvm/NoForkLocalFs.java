package watermark_detector_spark;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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
 * Hadoop's checksummed local filesystem without a child process per file.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} for
 * every file and directory it creates ({@code .crc} files included) and
 * {@code readlink} for every link-status lookup. {@link Raw} does both in
 * the JVM; this class (FileSystem API) and {@link Fs} (FileContext API)
 * wrap it with the same {@code .crc} checksums as the stock
 * {@link LocalFileSystem} and {@code LocalFs}.
 */
public class NoForkLocalFs extends LocalFileSystem {
  public NoForkLocalFs() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    /** The same 9 mode bits as {@code chmod}; a sticky bit takes the stock path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }

    /** A regular file or directory is its own link status; only a symlink needs readlink. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      return Files.isSymbolicLink(pathToFile(f).toPath())
          ? super.getFileLinkStatus(f) : getFileStatus(f);
    }
  }

  /** FileContext binding, as {@code LocalFs}: checksums over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** {@code RawLocalFs} over {@link Raw} (its constructors are package-private). */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
