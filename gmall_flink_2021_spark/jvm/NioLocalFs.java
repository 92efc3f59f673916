package gmall.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFileAttributeView;
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
 * Hadoop's local file system with its two shell-outs replaced by JDK
 * syscalls. Without libhadoop, {@code RawLocalFileSystem} forks
 * {@code chmod} for every file or directory it creates and
 * {@code readlink} for every {@code getFileLinkStatus}, which
 * FileContext calls on both ends of every rename. This is what
 * libhadoop's NativeIO would do instead, without a native library.
 * Checksums ({@code .crc} siblings), mode bits and FileContext's
 * {@code rename(..., NONE)} refusal of an existing target are kept.
 */
public final class NioLocalFs {
  private NioLocalFs() {}

  /** The raw FS: chmod and link status through java.nio. */
  public static class RawFileSystem extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      PosixFileAttributeView view = Files.getFileAttributeView(
          pathToFile(p).toPath(), PosixFileAttributeView.class);
      if (view == null || permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      view.setPermissions(posix(permission.toShort()));
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }

    private static Set<PosixFilePermission> posix(short mode) {
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, i.e.
      // mode bits 0400 down to 0001
      PosixFilePermission[] all = PosixFilePermission.values();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < all.length; i++) {
        if ((mode & (1 << (all.length - 1 - i))) != 0) {
          perms.add(all[i]);
        }
      }
      return perms;
    }
  }

  /** {@code fs.file.impl}: the checksummed FileSystem over {@link RawFileSystem}. */
  public static class FileSystem extends LocalFileSystem {
    public FileSystem() {
      super(new RawFileSystem());
    }
  }

  /** The FileContext view of {@link RawFileSystem}, as Hadoop's RawLocalFs. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new RawFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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

  /** {@code fs.AbstractFileSystem.file.impl}: the checksummed FileContext FS. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }
}
