package tabularcdc.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * Checksummed local AbstractFileSystem ({@code fs.AbstractFileSystem.file.impl}),
 * the FileContext path streaming checkpoints take, over the fork-free raw one.
 */
public class ForkFreeLocalFs extends ChecksumFs {
  public ForkFreeLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }

  @Override
  public int getUriDefaultPort() {
    return -1;
  }
}
