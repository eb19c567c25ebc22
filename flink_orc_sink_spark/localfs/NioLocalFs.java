package flinkorcsink.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * The {@code FileContext} filesystem for {@code file:} paths
 * ({@code fs.AbstractFileSystem.file.impl}), which Spark's checkpoint logs
 * write through: Hadoop's {@code LocalFs} (a {@link ChecksumFs}, so
 * {@code .crc} sidecars are kept) over {@link RawNioLocalFileSystem}. The
 * Hadoop classes cannot be subclassed from outside their package, so this
 * is the same composition.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new RawNioLocalFs(uri, conf));
  }
}

/** Hadoop's {@code RawLocalFs} over {@link RawNioLocalFileSystem}. */
class RawNioLocalFs extends DelegateToFileSystem {
  RawNioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(uri, new RawNioLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
  }

  @Override
  public int getUriDefaultPort() {
    return -1; // no default port for file:///
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
    return true; // different local filesystems allow different names
  }
}
