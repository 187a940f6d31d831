// The engine's local file system: Hadoop's RawLocalFileSystem without a
// forked helper process per file.
//
// Without libhadoop (NativeCodeLoader not loaded), Hadoop's
// RawLocalFileSystem forks `chmod` for every file, checksum file and
// directory it creates with a permission, and FileUtil.readLink forks
// `readlink` on every getFileLinkStatus, which FileContext calls several
// times per rename.  This class applies the same mode bits in-process and
// reads links with java.nio.  What lands on disk is unchanged.
//
// Build the jar from this directory after changing any .java file here, and
// commit it; the manifest carries the SHA-256 of the sources (concatenated in
// byte order of their names), which the tests compare against the sources:
//
//   export LC_ALL=C && out=$(mktemp -d) &&
//   javac --release 17 -cp "$SPARK_HOME/jars/*" -d "$out" *.java &&
//   printf 'Source-SHA-256: %s\n' "$(cat *.java | sha256sum | cut -d' ' -f1)" > "$out/manifest" &&
//   jar --create --file engine-fs.jar --manifest "$out/manifest" -C "$out" sparkgraft &&
//   rm -rf "$out"
package sparkgraft.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class EngineRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  /** chmod in-process.  A mode with bits beyond rwxrwxrwx (sticky, setuid)
   * has no java.nio form and goes to the stock path. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /** Hadoop's deprecated link-status path (the stock one: Stat is used only
   * after a test-only switch), with the link read by java.nio.  Like the
   * stock code, the link is looked up at {@code new File(f.toString())}. */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    FileStatus fi;
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      fi = new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (target.isEmpty()) {
        throw e;
      }
      // a dangling link
      fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
          new Path(target), f);
    }
    fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    return fi;
  }

  /** FileUtil.readLink without the fork: the link's target, or "" when
   * {@code f} is not a link or cannot be read. */
  private static String readLink(File f) {
    java.nio.file.Path p = f.toPath();
    if (!Files.isSymbolicLink(p)) {
      return "";
    }
    try {
      return Files.readSymbolicLink(p).toString().trim();
    } catch (IOException e) {
      return "";
    }
  }
}
