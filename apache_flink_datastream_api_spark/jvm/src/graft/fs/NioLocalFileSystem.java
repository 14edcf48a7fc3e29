package graft.fs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * {@code fs.file.impl}: Hadoop's checksummed local filesystem over {@link NioRawLocalFileSystem}.
 *
 * <p>Unset, {@code fs.file.impl} resolves through ServiceLoader, which with pyspark's jars picks
 * Hive's {@code ProxyLocalFileSystem}. Its one change, a rename that will not replace an existing
 * file, is kept here.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
