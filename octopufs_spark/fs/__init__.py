"""Filesystem toolkit: the reference's native operational surface.

Inventory listing, sizes, tree diff, distributed copy, threaded
metadata ops (move/delete), rerun-safety markers — re-expressed on
pyarrow.fs + a Spark RDD for the distributed copy. See SURVEY.md §2A for the
operator-by-operator mapping to the reference.
"""

from octopufs_spark.fs.model import FsElement, FsOperationResult, Paths  # noqa: F401
from octopufs_spark.fs.core import (  # noqa: F401
    get_filesystem,
    list_tree,
    get_size,
    FsSizes,
    to_nice_size_string,
    check_if_fs_is_the_same,
    does_move_look_safe,
    copy_single_file,
)
from octopufs_spark.fs.safety import SafetyFuse  # noqa: F401
