"""Flagship job for `spark-submit --py-files` deployment (north rule):
monthly-median cube + zonal stats over a synthetic image inventory, with a
resumable checkpoint.

Build the archive and submit:

    cd /root/repo && zip -qr /tmp/gdalcubes_spark.zip gdalcubes_spark
    /opt/spark/bin/spark-submit --master 'local[8]' \
        --py-files /tmp/gdalcubes_spark.zip \
        tools/submit_flagship.py --n-images 512 --out /tmp/flagship_ckpt

On a cluster, replace --master and point --out at shared storage; the same
archive ships to every executor (the reference's worker-process model,
multiprocess.cpp:13-248, replaced by Spark deployment).

The job runs the engine's worker daemon (`session.WORKER_DAEMON`). The daemon
starts before any task puts the --py-files on sys.path, so the workers get the
driver's PYTHONPATH, on which spark-submit put the archive. That path must
resolve on every worker: true on one host; on a cluster, install the package
on the workers or ship the archive where their PYTHONPATH names it.
"""

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=512)
    ap.add_argument("--out", default="/tmp/flagship_ckpt")
    ap.add_argument("--resume", action="store_true", help="resume an interrupted run")
    args = ap.parse_args()

    from gdalcubes_spark.session import WORKER_DAEMON
    spark = (SparkSession.builder.appName("gdalcubes-flagship")
             .config("spark.python.daemon.module", WORKER_DAEMON)
             .config("spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", ""))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # imports AFTER session start: on an executor these resolve from --py-files
    from gdalcubes_spark.checkpoint import read_checkpoint, resume, write_checkpoint
    from gdalcubes_spark.geom import rect_wkt
    from gdalcubes_spark.grid import ChunkGrid, CubeView
    from gdalcubes_spark.operators.extract_geom import zonal_stats
    from gdalcubes_spark.sources.raster_cube import raster_cube
    from gdalcubes_spark.synth import ImageLayout, band_names, generate_images

    lay = ImageLayout(left0=0.0, top0=8.0, tile_dx=1.0, tile_dy=1.0, gx=8, gy=8,
                      ntime=12, dt_days=31, tile_w=64, tile_h=64, nb=2,
                      fmts=("png", "raw", "jpeg"), hot_every=13, overlap=0.2)
    imgs = generate_images(spark, args.n_images, lay)
    v = CubeView.create(srs="EPSG:4326", left=0, right=8, bottom=0, top=8,
                        t0="2021-01-01", t1="2021-12-31", dt="P1M", dx=1.0 / 64, dy=1.0 / 64,
                        aggregation="median", resampling="bilinear")
    g = ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=128, cx=128)
    cube = raster_cube(imgs, v, band_names(lay), chunking=g)
    med = cube.apply_pixel("(b02 - b01) / (b02 + b01 + 1)", ["ndvi"]).reduce_time(
        "median(ndvi)", names=["ndvi"])

    if args.resume:
        n = resume(med, args.out)
        print(json.dumps({"resumed_chunks": n}))
    else:
        write_checkpoint(med, args.out)
    ck = read_checkpoint(spark, args.out)
    polys = spark.createDataFrame(
        [(i, rect_wkt((i % 4) * 2 + 0.25, (i // 4) * 2 + 0.25,
                      (i % 4) * 2 + 1.75, (i // 4) * 2 + 1.75)) for i in range(16)],
        "fid long, wkt string")
    zs = zonal_stats(ck, polys, ["mean", "count"], by_time=True)
    rows = zs.collect()
    print(json.dumps({
        "status": "ok",
        "chunks": ck.df.count(),
        "zonal_rows": len(rows),
        "sample": {str(r["fid"]): round(r["ndvi_mean"], 6) if r["ndvi_mean"] is not None else None
                   for r in rows[:4]},
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
