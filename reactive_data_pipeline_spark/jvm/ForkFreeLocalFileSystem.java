package reactive_data_pipeline_spark.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed {@code file:} FileSystem ({@code fs.file.impl}) over
 * {@link ForkFreeRawLocalFileSystem}: {@code .crc} sidecars are written
 * and verified exactly as by {@link LocalFileSystem}.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new ForkFreeRawLocalFileSystem());
  }
}
