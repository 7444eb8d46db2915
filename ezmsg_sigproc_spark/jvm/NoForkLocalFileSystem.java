package ezsp;

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
 * Hadoop's {@code file://} filesystem without process forks.
 *
 * <p>Without the native {@code libhadoop}, {@link RawLocalFileSystem} runs a
 * {@code chmod} process for every permission it sets (each file and directory
 * Spark's writers create, and each {@code .crc} file) and a {@code readlink}
 * process for every link-status lookup (each {@code FileContext} rename of a
 * streaming checkpoint or state file). {@link Raw} does both through
 * {@code java.nio}; everything else, the {@code .crc} checksum layout
 * included, is the stock code. {@link Fs} is the same for {@code FileContext}.
 *
 * <p>With pyspark's jars the stock {@code file://} class is Hive's
 * {@code ProxyLocalFileSystem}: a {@link LocalFileSystem} whose rename onto an
 * existing file fails. This class keeps that.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with {@code chmod} and {@code readlink} in-process. */
  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission.values() is OWNER_READ ... OTHERS_EXECUTE: bit 8 ... bit 0
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      try {
        java.nio.file.Path f = pathToFile(p).toPath();
        // java.nio sets only the nine rwx bits. chmod(1) also sets the sticky
        // bit and keeps a directory's set-id bits: leave those to the stock code.
        if (((mode | (Integer) Files.getAttribute(f, "unix:mode")) & 07000) == 0) {
          Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
          for (int i = 0; i < 9; i++) {
            if ((mode & (0400 >> i)) != 0) {
              perms.add(BITS[i]);
            }
          }
          Files.setPosixFilePermissions(f, perms);
          return;
        }
      } catch (IOException | RuntimeException e) {
        // a missing path, or no POSIX attributes: the stock code fails as it always did
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
     * RawLocalFileSystem's private {@code deprecatedGetFileLinkStatusInternal}
     * (the only route without {@code libhadoop}), with its {@code readlink}
     * process replaced by {@link Files#readSymbolicLink}. Like the stock code
     * it reads the link at {@code new File(f.toString())}.
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
        if (!target.isEmpty()) { // a dangling link
          return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f);
        }
        throw e;
      }
    }

    /** FileUtil.readLink without the process: "" when f is no link. */
    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString().trim();
      } catch (IOException | RuntimeException e) {
        return "";
      }
    }
  }

  /** {@code LocalFs} (checksums over a raw local filesystem) with {@link Raw} underneath. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** {@code RawLocalFs}, whose constructors are package-private, over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
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
