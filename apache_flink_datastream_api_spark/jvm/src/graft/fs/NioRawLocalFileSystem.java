package graft.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem without its two per-file shell-outs.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem} runs {@code chmod} for every
 * file and directory it creates and {@code readlink} for every link lookup,
 * which {@code FileContext.rename} makes three of per rename. This class does
 * both through java.nio with the same results; everything else is inherited.
 * The link lookup is the one Hadoop uses by default (its deprecated
 * {@code File}-based path; {@code useStatIfAvailable()} does not apply here).
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final int S_IFMT = 0170000;
  private static final int S_IFDIR = 0040000;

  /** {@code chmod %04o path}: modes with sticky, setuid or setgid bits go to chmod(1). */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    java.nio.file.Path file = pathToFile(p).toPath();
    int current = (Integer) Files.getAttribute(file, "unix:mode");
    // chmod(1) given a four-digit mode keeps a directory's setuid and setgid bits.
    int keep = (current & S_IFMT) == S_IFDIR ? current & 06000 : 0;
    Files.setAttribute(file, "unix:mode", mode | keep);
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
      // A dangling link: File.exists() is false for it.
      if (!target.isEmpty()) {
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      throw e;
    }
  }

  /** {@code FileUtil.readLink}: the trimmed target, or "" for anything but a readable link. */
  private static String readLink(File f) {
    try {
      return Files.readSymbolicLink(f.toPath()).toString().trim();
    } catch (IOException | RuntimeException e) {
      return "";
    }
  }
}
