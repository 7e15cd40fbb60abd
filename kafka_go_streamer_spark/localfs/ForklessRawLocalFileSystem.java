package kafka_go_streamer_spark.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem without the two shell commands it forks when
 * {@code libhadoop} is not loaded: {@code chmod} in every
 * {@link #setPermission} (each create and mkdir) and {@code readlink} in
 * every {@link #getFileLinkStatus} (each rename checks source,
 * destination and parent). Both are answered through {@code java.nio}
 * instead; the file, its mode bits and the returned statuses are the same.
 */
public class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if ((permission.toShort() & ~0777) != 0) {
      // Sticky bit: no PosixFilePermission for it, so let chmod set it.
      super.setPermission(p, permission);
      return;
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString()));
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    // For anything but a symlink the stock answer is getFileStatus(f); it
    // only learns that f is not a symlink by forking readlink.
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
