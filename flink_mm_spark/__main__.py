"""Command-line entry points: ``python -m flink_mm_spark <command>``.

The executable surface a reference user lands on (see MIGRATION.md —
each command maps to one of the reference's shipped ``main`` classes):

- ``list``    — the registered query catalog (names, oracle status, doc)
- ``run``     — run one registered query against an sf data dir
- ``damds``   — DAMDSProgram parity: run the anneal from an UNCHANGED
  reference config.properties (GenerateData / DistanceMatrixFile modes),
  honoring OutputFolder/OutFile for the final points
- ``kmeans``  — KMeansBlock parity: points + centroids text files,
  fixed-iteration Lloyd, final centroids to stdout or --out
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np


def _spark(app: str):
    from flink_mm_spark.session import get_spark

    return get_spark(app)


def cmd_list(args: argparse.Namespace) -> int:
    from flink_mm_spark import registry

    registry.load_all()
    names = registry.ordered_names()
    for n in names:
        spec = registry.QUERIES[n]
        tag = "oracle" if spec.oracle else "rows-only"
        doc = (spec.doc.splitlines() or [""])[0]
        print(f"{n:32s} [{tag:9s}] {doc}")
    print(f"\n{len(names)} queries registered")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    from flink_mm_spark import registry

    registry.load_all()
    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r} — see `python -m flink_mm_spark list`")
        return 2
    spark = _spark(f"flink-mm-{args.name}")
    df = registry.QUERIES[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def cmd_damds(args: argparse.Namespace) -> int:
    from flink_mm_spark.session import scratch_dir

    from flink_mm_spark.algos.damds import damds_blocks_from_files, quantize_distances
    from flink_mm_spark.algos.damds_config import damds_from_config, load_properties
    from flink_mm_spark.sources.binary_matrix import write_matrix_file

    cfg = load_properties(args.config)
    n = int(cfg["NumberDataPoints"])
    spark = _spark("flink-mm-damds")
    if cfg.get("GenerateData", "false").lower() == "true":
        # reference GenerateData synthesizes the int16 distance matrix
        # (ShortMatrixInputFormat.generateData); here: deterministic random
        # 3-d points -> pairwise distances, quantized to valid shorts, then
        # the PRODUCTION from-files construction path reads them back
        rng = np.random.RandomState(7)
        pts = rng.standard_normal((n, 3))
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1)
        q, _ = quantize_distances(np.sqrt(d2))
        dist_path = os.path.join(scratch_dir("damds_gen_"), "dist.bin")
        write_matrix_file(dist_path, q, "int16", "big")
        blocks = damds_blocks_from_files(spark, dist_path, n, n_blocks=args.blocks)
    else:
        blocks = damds_blocks_from_files(
            spark,
            cfg["DistanceMatrixFile"],
            n,
            weight_path=cfg.get("WeightMatrixFile") or None,
            n_blocks=args.blocks,
        )
    res = damds_from_config(blocks, cfg)
    print(f"final stress {res.stress:.10f} after {res.stress_iters} stress iters")
    out_dir = cfg.get("OutputFolder")
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, cfg.get("OutFile", "final.txt"))
        # reference final.txt layout: index<TAB>coords...
        with open(out, "w") as f:
            for i, row in enumerate(res.points):
                f.write("\t".join([str(i)] + [f"{v:.10f}" for v in row]) + "\n")
        print(f"points written to {out}")
    return 0


def cmd_kmeans(args: argparse.Namespace) -> int:
    from flink_mm_spark.algos.kmeans import kmeans
    from flink_mm_spark.sources.text_points import read_centroids_text, read_points_text

    spark = _spark("flink-mm-kmeans")
    pts = read_points_text(spark, args.points, args.dim).select("features")
    cents = read_centroids_text(spark, args.centroids, args.dim)
    init = np.array(
        [r["features"] for r in cents.orderBy("id").collect()], dtype=np.float64
    )
    final = kmeans(pts, init, n_iters=args.iters)
    lines = [
        "\t".join([str(i)] + [f"{v:.10f}" for v in row]) for i, row in enumerate(final)
    ]
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"{len(final)} centroids written to {args.out}")
    else:
        print("\n".join(lines))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m flink_mm_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    pr = sub.add_parser("run", help="run a registered query")
    pr.add_argument("name")
    pr.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pr.add_argument("--limit", type=int, default=20)
    pr.add_argument("--explain", action="store_true")

    pd = sub.add_parser("damds", help="run DA-MDS from a reference config.properties")
    pd.add_argument("config")
    pd.add_argument("--blocks", type=int, default=16)

    pk = sub.add_parser("kmeans", help="k-means over points/centroids text files")
    pk.add_argument("--points", required=True)
    pk.add_argument("--centroids", required=True)
    pk.add_argument("--dim", type=int, required=True)
    pk.add_argument("--iters", type=int, default=10)
    pk.add_argument("--out")

    args = p.parse_args(argv)
    return {"list": cmd_list, "run": cmd_run, "damds": cmd_damds, "kmeans": cmd_kmeans}[
        args.cmd
    ](args)


if __name__ == "__main__":
    sys.exit(main())
