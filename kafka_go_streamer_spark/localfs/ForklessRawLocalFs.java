package kafka_go_streamer_spark.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * {@link org.apache.hadoop.fs.AbstractFileSystem} view of
 * {@link ForklessRawLocalFileSystem}, the same as Hadoop's
 * {@code org.apache.hadoop.fs.local.RawLocalFs} over the stock one.
 */
public class ForklessRawLocalFs extends DelegateToFileSystem {
  ForklessRawLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(theUri, new ForklessRawLocalFileSystem(), conf,
        FsConstants.LOCAL_FS_URI.getScheme(), false);
  }

  @Override
  public int getUriDefaultPort() {
    return -1; // No default port for file:///
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
    // Different local file systems have different validation rules.
    return true;
  }
}
