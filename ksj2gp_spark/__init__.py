"""ksj2gp_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of the reference
converter ``yutannihilation/ksj2gp`` (studied at /root/reference), built
Spark-first:

* KSJ (国土数値情報) ingestion semantics — ZIP/Shapefile/dBASE parsing,
  encoding + CRS detection, column-name and codelist translation —
  as pure-Python kernels usable on the driver and inside Arrow UDFs
  (``ksj2gp_spark.ksj``, ``ksj2gp_spark.formats``).
* Geometry kernels in vectorized numpy — WKB codec, point-in-polygon,
  distance, Tokyo→WGS84 Helmert datum transform, S2 cell ids and an
  H3-style hex cell scheme (``ksj2gp_spark.geo``).
* Spark operators — cell indexing, salted broadcast/shuffle spatial
  joins with exact refinement, kNN, tile emission, dedup/similarity/
  text-analysis pipeline ops (``ksj2gp_spark.operators``).
* Sinks with per-partition lineage manifests and resumable commits
  (``ksj2gp_spark.sinks``).

All heavy per-row work runs through pandas/Arrow UDFs — no per-row
Python in the hot path. Imported inside a Spark task, the package puts
a guard in the Python worker that keeps later tasks from re-reading
every zip archive on ``sys.path`` (``ksj2gp_spark._worker``).
"""

from . import _worker

__version__ = "0.1.0"

_worker.install_in_task()
