package graft.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/** {@code fs.AbstractFileSystem.file.impl}: Hadoop's {@code LocalFs} over {@link NioRawLocalFs}. */
public class NioLocalFs extends ChecksumFs {
  NioLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
