package org.apache.spark.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.util.HadoopFSUtils

/** The leaf files of a set of root paths as Spark's file index lists them,
  * without building an index: a file root is one stat, a directory is walked
  * with Spark's package-private hidden-file filter (`_x` and `.x` names, and
  * `._COPYING_` files, are skipped). */
object LeafFiles {
  def apply(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
          .flatMap(leaves)
      leaves(fs.getFileStatus(path))
    }
}
