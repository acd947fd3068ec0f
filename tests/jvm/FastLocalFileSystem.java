package rss.testfs;

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
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local file system with {@code setPermission} done in-process.
 *
 * <p>Without the native hadoop library, {@link RawLocalFileSystem} forks a
 * {@code chmod} process for every directory it creates and every file it
 * opens for writing: every parquet partition directory, every task attempt
 * directory, every streaming checkpoint and state file.  The Spark tests
 * create tens of thousands of them.  This subclass sets the same POSIX mode
 * bits through {@code java.nio} instead; modes NIO cannot express (setuid,
 * setgid, sticky) still go through the original path.
 *
 * <p>{@code fs.file.impl} takes this class (the FileSystem API) and
 * {@code fs.AbstractFileSystem.file.impl} takes {@link Fs} (the FileContext
 * API, which streaming checkpoints use).
 */
public class FastLocalFileSystem extends LocalFileSystem {
  public FastLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), posix(mode));
    }

    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    private static Set<PosixFilePermission> posix(int mode) {
      Set<PosixFilePermission> out = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          out.add(BITS[i]);
        }
      }
      return out;
    }
  }

  /** FileContext binding: {@code LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** {@code RawLocalFs} over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
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
