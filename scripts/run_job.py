"""Cluster entry point: spark-submit --py-files pybiodatafuse_spark.zip scripts/run_job.py ...

Runs the full pipeline (pages → extraction → salted edges) or an individual
algorithm over a prebuilt edge table, with durable checkpoints + run_metadata
for resume (north rule).

Examples:
  spark-submit --py-files dist/pybiodatafuse_spark.zip scripts/run_job.py \\
      pagerank --pages /data/pages --store /data/bdf_store --tol 1e-6
  spark-submit ... run_job.py components --edges /data/edges --out /data/cc
  spark-submit ... run_job.py resume --algorithm pagerank --run-id abc123 \\
      --edges /data/edges --store /data/bdf_store
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running from a checkout without --py-files (repo root on sys.path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build_graph(spark, args):
    from pybiodatafuse_spark.operators.edges import build_edges, build_vertices
    from pybiodatafuse_spark.sources.loaders import read_pages

    if args.pages:
        if args.pages.isdigit():
            # synthetic mode: --pages N generates the deterministic snapshot
            # (same generator as bench.py) — lets the packaged job run
            # end-to-end on a box with no crawl data
            from pybiodatafuse_spark.datagen import generate_pages

            pages = generate_pages(spark, int(args.pages), partitions=32)
        else:
            pages = read_pages(spark, args.pages)
        verts = build_vertices(pages).persist()
        edges = build_edges(pages, verts).persist()
    else:
        edges = spark.read.parquet(args.edges).persist()
        verts = None
    return verts, edges


def main(argv=None):
    p = argparse.ArgumentParser(description="pybiodatafuse_spark job runner")
    p.add_argument("algorithm", choices=[
        "pagerank", "components", "labelprop", "triangles",
        "summary", "resume", "rdf", "scc", "bowtie", "hits", "kcore",
        "anf", "scalars", "compact", "expire",
    ])
    p.add_argument("--pages", help="pages table path (runs extraction)")
    p.add_argument("--edges", help="prebuilt edge table path")
    p.add_argument("--out", help="output path (parquet)")
    p.add_argument("--store", help="storage root for checkpoints + run_metadata")
    p.add_argument("--run-id", help="run id (for resume)")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=100)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--num-salts", type=int, default=8)
    p.add_argument("--hub-threshold", type=int, default=10000)
    p.add_argument("--k", type=int, default=3, help="k for the kcore job")
    p.add_argument(
        "--init-ranks",
        help="parquet path of a prior (id, rank) vector — warm-start pagerank "
        "for incremental snapshot re-ranking",
    )
    p.add_argument("--checkpoint-every", type=int, default=5)
    p.add_argument("--master", default=None)
    p.add_argument("--table", help="storage table name (compact/expire)")
    p.add_argument("--keep-last", type=int, default=1,
                   help="snapshots to retain for the expire job")
    p.add_argument("--target-file-mb", type=int, default=128,
                   help="compaction bin-pack target file size")
    args = p.parse_args(argv)

    from pybiodatafuse_spark.session import get_spark
    from pybiodatafuse_spark.storage import Storage

    spark = get_spark("bdf-" + args.algorithm, master=args.master)
    storage = Storage(args.store) if args.store else None

    if args.algorithm in ("compact", "expire"):
        # table maintenance: no graph build — operate on the storage table
        if not (storage and args.table):
            p.error(f"{args.algorithm} requires --store and --table")
        info = {"table": args.table, "before": storage.file_stats(args.table)}
        if args.algorithm == "compact":
            info["snapshot_id"] = storage.compact(
                spark, args.table,
                target_file_bytes=args.target_file_mb * 1024 * 1024,
            )
        else:
            info["expired"] = storage.expire_snapshots(
                args.table, keep_last=args.keep_last
            )
        info["after"] = storage.file_stats(args.table)
        print(json.dumps(info))
        spark.stop()
        return

    verts, edges = _build_graph(spark, args)
    result_df, info = None, {}

    if args.algorithm in ("pagerank", "resume"):
        from pybiodatafuse_spark.plans.pagerank import pagerank

        kwargs = {}
        if args.algorithm == "resume":
            if not (storage and args.run_id):
                p.error("resume requires --store and --run-id")
            last = storage.last_checkpoint_step("pagerank", args.run_id)
            info["resumed_from_superstep"] = last
            kwargs.update(resume=True)
        elif args.init_ranks:
            kwargs.update(init_ranks=spark.read.parquet(args.init_ranks))
        res = pagerank(
            spark, edges, verts, damping=args.damping, tol=args.tol,
            max_iter=args.max_iter, num_salts=args.num_salts,
            hub_threshold=args.hub_threshold, storage=storage,
            run_id=args.run_id, checkpoint_every=args.checkpoint_every, **kwargs,
        )
        result_df = res.state.select("id", "rank")
        info.update(supersteps=res.supersteps, converged=res.converged,
                    run_id=res.run_id, final_delta=res.deltas[-1] if res.deltas else None)
    elif args.algorithm == "components":
        from pybiodatafuse_spark.plans.components import components

        result_df = components(spark, edges, verts, storage=storage, run_id=args.run_id)
    elif args.algorithm == "labelprop":
        from pybiodatafuse_spark.plans.labelprop import label_propagation

        result_df = label_propagation(spark, edges, verts, storage=storage,
                                      run_id=args.run_id, max_iter=args.max_iter)
    elif args.algorithm == "triangles":
        from pybiodatafuse_spark.plans.triangles import triangles

        total, per_vertex = triangles(spark, edges)
        info["total_triangles"] = total
        result_df = per_vertex
    elif args.algorithm == "rdf":
        from pybiodatafuse_spark.sinks.rdf import write_ntriples

        if verts is None:
            p.error("rdf requires --pages (node types/urls come from vertices)")
        if not args.out:
            p.error("rdf requires --out")
        write_ntriples(
            verts, edges, args.out, attrs={"url": "string"},
            title="link graph export", datasources=["pages"],
            prefixes_path=os.path.join(args.out + "_prefixes.ttl"),
        )
        info["out"] = args.out
    elif args.algorithm == "scc":
        from pybiodatafuse_spark.plans.scc import strongly_connected_components

        result_df = strongly_connected_components(spark, edges, verts)
    elif args.algorithm == "bowtie":
        from pybiodatafuse_spark.plans.scc import bowtie_decomposition

        result_df = bowtie_decomposition(spark, edges, verts)
    elif args.algorithm == "hits":
        from pybiodatafuse_spark.plans.hits import hits

        result_df = hits(spark, edges, verts, tol=args.tol, max_iter=args.max_iter)
    elif args.algorithm == "kcore":
        from pybiodatafuse_spark.plans.kcore import k_core

        result_df = k_core(spark, edges, k=args.k)
    elif args.algorithm == "anf":
        from pybiodatafuse_spark.plans.bfs import effective_diameter

        h_eff, totals = effective_diameter(spark, edges)
        info.update(effective_diameter=h_eff, per_hop_totals=totals)
    elif args.algorithm == "scalars":
        from pybiodatafuse_spark.operators.graphstats import graph_scalars

        result_df = graph_scalars(spark, edges)
    elif args.algorithm == "summary":
        from pybiodatafuse_spark.operators.summarize import summary

        if verts is None:
            p.error("summary requires --pages")
        info.update(summary(spark, verts, edges))

    if result_df is not None and args.out:
        result_df.write.mode("overwrite").parquet(args.out)
        info["out"] = args.out
    print(json.dumps(info))
    spark.stop()


if __name__ == "__main__":
    main()
