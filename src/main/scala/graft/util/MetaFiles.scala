package graft.util

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Whole-file reads of small metadata files: Hudi instants and
 * `hoodie.properties`, Delta commits and `_last_checkpoint`, Iceberg
 * `metadata.json` and its version hint, stream-checkpoint state.
 *
 * One `readAllBytes` pulls the file through the stream in buffer-sized
 * reads; Hadoop's `IOUtils` whole-file read takes a byte per call, each
 * through the checksum stream, and a sync reads hundreds of these
 * files. The read stays on the given `FileSystem` (never its raw one),
 * so a checksummed filesystem still verifies every chunk; a missing
 * file raises `FileNotFoundException` from `open`.
 */
object MetaFiles {

  def readUtf8(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}
