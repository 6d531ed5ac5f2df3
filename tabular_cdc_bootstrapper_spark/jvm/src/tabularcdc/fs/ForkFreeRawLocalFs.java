package tabularcdc.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/** {@code org.apache.hadoop.fs.local.RawLocalFs} over the fork-free raw FileSystem. */
public class ForkFreeRawLocalFs extends DelegateToFileSystem {
  public ForkFreeRawLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new ForkFreeRawLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
