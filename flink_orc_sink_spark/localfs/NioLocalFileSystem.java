package flinkorcsink.localfs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * The {@code FileSystem} for {@code file:} paths ({@code fs.file.impl}):
 * Hadoop's checksummed {@link LocalFileSystem}, so {@code .crc} sidecars are
 * still written and verified, over {@link RawNioLocalFileSystem}.
 *
 * <p>Without this class, pyspark resolves {@code file:} to Hive's
 * {@code ProxyLocalFileSystem} (hive-exec registers it after Hadoop's own),
 * a {@code LocalFileSystem} whose {@link #rename} refuses to replace an
 * existing file. That rule is kept, so renames behave as before.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new RawNioLocalFileSystem());
  }

  @Override
  @SuppressWarnings("deprecation") // isFile, as the Hive class calls it
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
