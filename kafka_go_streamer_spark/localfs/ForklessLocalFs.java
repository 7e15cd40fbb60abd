package kafka_go_streamer_spark.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * The checksummed {@code file:} {@link org.apache.hadoop.fs.AbstractFileSystem}
 * over {@link ForklessRawLocalFs}; set as
 * {@code fs.AbstractFileSystem.file.impl}. Structured streaming's
 * checkpoint logs are written through it ({@code FileContext}).
 */
public class ForklessLocalFs extends ChecksumFs {
  ForklessLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new ForklessRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
