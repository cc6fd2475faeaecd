package graft

import java.nio.charset.StandardCharsets

/** The reference tutorial's KSQL script (`files/ksqldb-cli/all.sql`),
  * committed as a test resource so the replay specs run in any
  * checkout. The resource is a reconstruction; its header says how it
  * was rebuilt.
  */
object TutorialScript {
  lazy val bytes: Array[Byte] = {
    val in = getClass.getResourceAsStream("/reference/all.sql")
    require(in != null, "test resource reference/all.sql is missing")
    try in.readAllBytes() finally in.close()
  }

  lazy val text: String = new String(bytes, StandardCharsets.UTF_8)
}
