// fs.file.impl: Hadoop's checksummed LocalFileSystem over the engine's raw
// local file system (see EngineRawLocalFileSystem.java, which also says how
// to build the jar).
package sparkgraft.fs;

import org.apache.hadoop.fs.LocalFileSystem;

public class EngineLocalFileSystem extends LocalFileSystem {

  public EngineLocalFileSystem() {
    super(new EngineRawLocalFileSystem());
  }
}
