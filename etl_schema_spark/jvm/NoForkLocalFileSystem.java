package etl_schema_spark.jvm;

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
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's raw local file system without its two per-file child processes.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} forks {@code chmod} for
 * every file and directory it creates with a mode, and {@code readlink}
 * for every {@code getFileLinkStatus} (four per checkpoint rename through
 * FileContext). Here both go through java.nio on the same paths, and
 * everything else is the stock class: modes, {@code .crc} checksums and
 * FileContext's atomic rename come out the same.
 *
 * <p>{@link Local} is the {@code fs.file.impl} wrapper and {@link Fs} the
 * {@code fs.AbstractFileSystem.file.impl} one.
 */
public class NoForkLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] MODE_BITS = PosixFilePermission.values();

  /** chmod through java.nio; the native call and the sticky bit (which
   *  java.nio cannot set) stay with the stock code. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (NativeIO.isAvailable() || permission.getStickyBit()) {
      super.setPermission(p, permission);
      return;
    }
    // PosixFilePermission lists owner/group/others read/write/execute,
    // the octal mode's bits from 0400 down to 0001
    int mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /** The stock deprecated-status path, with {@code readlink} read through
   *  java.nio on the same {@code new File(path.toString())}: a
   *  {@code file:}-qualified path names no local file there, so it never
   *  resolves as a link, as with the stock class. */
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

  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
          fs.getOwner(), fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) {  // a dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      throw e;
    }
  }

  /** {@code FileUtil.readLink}: the link's target, or "" when {@code f} is
   *  not a link or cannot be read. */
  private static String readLink(File f) {
    try {
      java.nio.file.Path p = f.toPath();
      return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
    } catch (IOException | RuntimeException e) {
      return "";
    }
  }

  /** {@code fs.file.impl}: checksummed like {@link LocalFileSystem}, and a
   *  rename onto an existing file returns false, as Hive's
   *  ProxyLocalFileSystem (the stock class for {@code file:} when Spark
   *  ships Hive) does. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new NoForkLocalFileSystem());
    }

    @Override
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: {@code LocalFs} over this
   *  class. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new Raw(uri, conf));
    }
  }

  /** {@code RawLocalFs} over this class, with its four overrides. */
  static class Raw extends DelegateToFileSystem {
    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NoForkLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
