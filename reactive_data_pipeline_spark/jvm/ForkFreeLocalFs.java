package reactive_data_pipeline_spark.jvm;

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
 * The FileContext {@code file} AbstractFileSystem
 * ({@code fs.AbstractFileSystem.file.impl}): Hadoop's {@code LocalFs}
 * (a {@link ChecksumFs} over {@code RawLocalFs}) with
 * {@link ForkFreeRawLocalFileSystem} as the delegate. Streaming
 * checkpoints (offset and commit logs, state-store files) are written
 * through this class.
 */
public class ForkFreeLocalFs extends ChecksumFs {
  public ForkFreeLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs} with the fork-free delegate. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
}
