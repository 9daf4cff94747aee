package graft

import graft.sources.SnapshotStore

/** Test helper for planted store debris: retirement deletes a file no
  * manifest references only once it is older than
  * [[SnapshotStore.TmpGraceMs]] (a younger one may be a live writer's
  * unpublished output), so specs that simulate a crashed writer age
  * its leftovers past that grace before retiring. */
object StoreDebris {

  /** Backdate `f` and everything under it by twice the orphan grace. */
  def age(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(age))
    assert(f.setLastModified(
      System.currentTimeMillis() - 2 * SnapshotStore.TmpGraceMs), s"cannot age $f")
  }

  def age(p: java.nio.file.Path): Unit = age(p.toFile)
}
