"""The Python worker layer: engine sessions run their workers under
``worker_daemon`` (no per-task zip directory re-read), and the tile
kernels build with no pyspark type-hint warning."""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from whitebox_geospatial_analysis_tools_spark.operators import raster as R
from whitebox_geospatial_analysis_tools_spark.operators.clump import clump
from whitebox_geospatial_analysis_tools_spark.operators.hydro import (
    flow_accum, flow_pointer_d8,
)
from whitebox_geospatial_analysis_tools_spark.operators.zonal import (
    kriging_at_cell_centers, rbf_at_cell_centers,
)
from whitebox_geospatial_analysis_tools_spark.sources.pages import (
    points_from_documents,
)
from tests.conftest import SF_SMOKE


def test_worker_daemon_keeps_zip_directories(spark):
    """Inside a worker, importlib.invalidate_caches() leaves a
    zipimporter's directory dict in place, and the worker's parent is the
    engine's daemon module."""

    def probe(batches):  # nested, so cloudpickle ships it by value
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zi = next(v for v in sys.path_importer_cache.values()
                  if isinstance(v, zipimport.zipimporter))
        before = zi._files
        importlib.invalidate_caches()
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        yield pd.DataFrame({"replaced": [zi._files is not before],
                            "parent": [parent]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "replaced boolean, parent string")
           .collect()[0])
    assert not row.replaced
    assert "whitebox_geospatial_analysis_tools_spark.worker_daemon" in row.parent


def test_tile_kernels_build_without_type_hint_warning(spark):
    """The tile kernels (raster.tile_map's mapInArrow, whose eval type is
    fixed) and the zonal applyInPandas kernels, which leave their
    arguments unannotated, build without pyspark trying (and warning
    about) type-hint inference.  flow_accum's build runs its eager jobs."""
    tiles = R.synth_raster(spark, 96, 128)
    cells = (R.explode_cells(tiles).where(F.col("value") != R.NODATA)
             .select("row", "col",
                     F.expr("CAST(FLOOR(value / 50e0) AS BIGINT)").alias("cls")))
    pts = points_from_documents(spark, SF_SMOKE)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # sockets py4j's collect leaves to the garbage collector
        warnings.simplefilter("ignore", ResourceWarning)
        R.focal(tiles, "mean")
        flow_accum(flow_pointer_d8(tiles), tile=32)
        clump(cells, 128, tile=32)
        rbf_at_cell_centers(pts)
        kriging_at_cell_centers(pts)


def test_workers_import_package_from_any_directory(tmp_path):
    """A driver started outside the repository, with the package only on
    its own sys.path and no PYTHONPATH, still runs Python tasks: get_spark
    puts the package root on the workers' path."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from whitebox_geospatial_analysis_tools_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "n = spark.range(3, numPartitions=1).mapInPandas(lambda it: it, 'id long').count()\n"
        "spark.stop()\n"
        "print('rows', n)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "rows 3" in proc.stdout
