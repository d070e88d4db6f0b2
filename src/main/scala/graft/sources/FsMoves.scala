package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Checked directory moves for the table swaps that fold deletions into
  * a persisted table. `FileSystem.rename` reports some failures by
  * returning `false` instead of throwing; a swap that ignored it and
  * went on to delete its tmp or trash root would lose the rows those
  * roots held. Every move here fails loudly before anything is deleted.
  */
private[graft] object FsMoves {

  /** Rename `src` to `dst`, or throw. */
  def move(fs: FileSystem, src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"could not rename $src to $dst")

  /** Swap the rewritten partition directories `parts` (`col=value`
    * names) of `tmp` into `table`. Each old partition moves aside to a
    * sibling trash root before its rewrite moves in, and the trash and
    * `tmp` roots are deleted only after every move succeeded, so a
    * failed move throws with every row still on disk. A partition `tmp`
    * does not hold lost all its rows and is dropped. A trash root left
    * non-empty by an interrupted swap holds the only copy of those
    * partitions, so the next swap refuses to run until they are moved
    * back. */
  def swapPartitions(fs: FileSystem, table: String, tmp: String,
      parts: Seq[String]): Unit = {
    val trash = new Path(s"${table.stripSuffix("/")}__swap_trash")
    require(!fs.exists(trash) || fs.listStatus(trash).isEmpty,
      s"$trash holds partitions of an interrupted swap into $table; " +
        "move them back into the table before folding it again")
    fs.mkdirs(trash)
    parts.foreach { p =>
      val dst = new Path(table, p)
      if (fs.exists(dst)) move(fs, dst, new Path(trash, p))
      val src = new Path(tmp, p)
      if (fs.exists(src)) move(fs, src, dst)
    }
    fs.delete(trash, true)
    fs.delete(new Path(tmp), true)
    ()
  }
}
