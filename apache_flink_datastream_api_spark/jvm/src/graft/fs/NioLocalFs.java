package graft.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.Path;

/** {@code fs.AbstractFileSystem.file.impl}: Hadoop's {@code LocalFs} over {@link NioRawLocalFs}. */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }

  /**
   * Verify checksums on the one-argument {@code open} too. {@code FilterFs.open(Path)} reads the
   * raw filesystem directly and {@code ChecksumFs} overrides only {@code open(Path, int)}, so stock
   * {@code LocalFs} reads Spark's checkpoint logs ({@code FileContext.open(Path)}) unverified.
   */
  @Override
  public FSDataInputStream open(Path f) throws IOException {
    return open(f, getServerDefaults(f).getFileBufferSize());
  }
}
