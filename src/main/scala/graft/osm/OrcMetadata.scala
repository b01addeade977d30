package graft.osm

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.orc.OrcFile

/** ORC footer user metadata, read back through orc-core. The writer side
  * is [[OsmOrcFileFormat]].
  */
object OrcMetadata {

  /** Read a footer user-metadata value back as UTF-8 (test/consumer
    * convenience).
    */
  def readValue(file: Path, conf: Configuration, key: String): Option[String] = {
    val reader = OrcFile.createReader(file, OrcFile.readerOptions(conf))
    try {
      if (reader.hasMetadataValue(key)) {
        val bb = reader.getMetadataValue(key)
        val arr = new Array[Byte](bb.remaining())
        bb.get(arr)
        Some(new String(arr, StandardCharsets.UTF_8))
      } else None
    } finally reader.close()
  }
}
