package kafka_go_streamer_spark.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed {@code file:} {@link org.apache.hadoop.fs.FileSystem}
 * (writes a {@code .crc} next to each file) over
 * {@link ForklessRawLocalFileSystem}; set as {@code fs.file.impl}.
 */
public class ForklessLocalFileSystem extends LocalFileSystem {
  public ForklessLocalFileSystem() {
    super(new ForklessRawLocalFileSystem());
  }
}
