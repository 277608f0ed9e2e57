"""Read the session's Python UDF profile (``spark.sql.pyspark.udf.profiler
= perf``) into seconds: total Python time and the self time of the
functions defined in a few engine modules."""

from __future__ import annotations

import glob
import os
import pstats
import shutil

# metric key -> engine module (in functions/) whose functions' self time
# it sums; the profile records file names without their directory
MODULES = {
    "pdftext_s": "pdftext.py",
    "mp2_s": "mp2.py",
    "mpeg2_s": "mpeg2.py",
    "zstd_s": "zstd.py",
}


def take(spark, dump_dir: str) -> dict[str, float]:
    """Profile accumulated since the last call, then clear it."""
    shutil.rmtree(dump_dir, ignore_errors=True)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear()
    out = {"total_s": 0.0, **{k: 0.0 for k in MODULES}}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        stats = pstats.Stats(path).stats
        for (filename, _line, _name), (_cc, _nc, tt, _ct, _callers) in stats.items():
            out["total_s"] += tt
            for key, module in MODULES.items():
                if os.path.basename(filename) == module:
                    out[key] += tt
    shutil.rmtree(dump_dir, ignore_errors=True)
    return out
