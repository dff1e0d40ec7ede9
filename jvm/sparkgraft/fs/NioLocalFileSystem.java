// Local filesystem that does not fork. Without the libhadoop native
// library, Hadoop's RawLocalFileSystem runs `chmod` for every
// setPermission and `readlink` for every getFileLinkStatus (which
// FileContext.rename calls on source and target). A streaming
// micro-batch writes an offset-log entry, a commit-log entry, state
// deltas and part files, each through create + rename, so every batch
// forked dozens of processes. This class answers those two calls with
// java.nio; every other method is the stock RawLocalFileSystem, so
// checksums, the atomic rename, listing and the permissions set are
// unchanged.
//
// Install (local master; session.build_session does this):
//   spark.driver.extraClassPath                  <compiled classes dir>
//   spark.hadoop.fs.file.impl                    sparkgraft.fs.NioLocalFileSystem
//   spark.hadoop.fs.AbstractFileSystem.file.impl sparkgraft.fs.NioLocalFileSystem$Fs
package sparkgraft.fs;

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

/** {@code fs.file.impl}: the checksummed LocalFileSystem over {@link Raw}. */
public class NioLocalFileSystem extends LocalFileSystem {
  // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE, i.e.
  // mode bits 0400 down to 0001.
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);  // no sticky bit in java.nio
        return;
      }
      int mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    // The stock body, with readlink(1) replaced by readSymbolicLink.
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      java.nio.file.Path nio = pathToFile(f).toPath();
      String target = "";
      if (Files.isSymbolicLink(nio)) {
        try {
          target = Files.readSymbolicLink(nio).toString();
        } catch (IOException e) {
          // raced with a delete: report what getFileStatus finds
        }
      }
      FileStatus fi;
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        fi = new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        if (target.isEmpty()) {
          throw e;
        }
        // dangling link
        fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      return fi;
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: LocalFs over {@link RawFs}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** RawLocalFs, whose constructor hard-codes a stock RawLocalFileSystem. */
  public static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
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
