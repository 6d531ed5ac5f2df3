package tabularcdc.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** Checksummed local FileSystem ({@code fs.file.impl}) over the fork-free raw one. */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new ForkFreeRawLocalFileSystem());
  }
}
