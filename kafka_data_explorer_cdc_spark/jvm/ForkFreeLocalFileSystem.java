package kdec.fs;

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
 * Hadoop's local FileSystem without its child processes. Without
 * libhadoop the stock one runs {@code chmod} for every file, checksum
 * file and directory it creates, and {@code readlink} for every link
 * status (each checkpoint rename). Here permissions are set through
 * java.nio, and {@code readlink} runs only for a symbolic link.
 *
 * <p>{@code fs.file.impl} takes this class (the FileSystem API);
 * {@code fs.AbstractFileSystem.file.impl} takes {@link Fs} (the
 * FileContext API, which the streaming checkpoint writes through).
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  /** create and mkdirs set their mode through {@link #setPermission}. */
  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky, setuid or setgid: java.nio has no such bits
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {  // OWNER_READ (0400) ... OTHERS_EXECUTE (0001)
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** The FileContext route: checksums over {@link Raw}, as LocalFs is over RawLocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** RawLocalFs over {@link Raw} (RawLocalFs' constructors are package-private). */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
