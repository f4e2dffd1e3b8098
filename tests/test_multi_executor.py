"""Multi-executor (local-cluster) validation: the engine's claims about
executor distribution are exercised with REAL executor boundaries — separate
JVMs, shipped py-files, per-executor Python workers (datagen's
``mapInPandas``) — not local-mode threads. Link extraction runs in the
executor JVMs; the edge count is checked against ``extract_links`` run
locally over the same pages.

Runs in a subprocess because a process can hold only one SparkContext and
the suite's session fixture owns this one.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np

from pybiodatafuse_spark.datagen import generate_pages_pdf
from pybiodatafuse_spark.functions.extraction import extract_links
from pybiodatafuse_spark.functions.urlnorm import canonicalize_url

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
  .appName("mx-test")
  .config("spark.sql.shuffle.partitions","2")
  .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.addPyFile({zip_path!r})
from pybiodatafuse_spark.datagen import generate_pages
from pybiodatafuse_spark.operators.edges import build_edges, build_vertices
pages = generate_pages(spark, 500, partitions=2)
verts = build_vertices(pages).persist()
edges = build_edges(pages, verts).persist()
ne = edges.count()
from pybiodatafuse_spark.plans.pagerank import pagerank
res = pagerank(spark, edges, verts, tol=None, max_iter=4)
s = res.state.agg(F.sum("rank")).first()[0]
print(f"RESULT ne={{ne}} ranksum={{s:.12f}}")
spark.stop()
"""


def _local_edge_count(n_pages: int) -> int:
    """Distinct in-corpus (src, dst) pairs without self links, from
    ``extract_links`` over the same generated pages."""
    pdf = generate_pages_pdf(np.arange(n_pages), n_pages)
    pages = [(canonicalize_url(u), u, h) for u, h in zip(pdf["url"], pdf["html"])]
    corpus = {c for c, _, _ in pages if c is not None}
    return len({
        (c, link)
        for c, url, html in pages if c is not None
        for link in extract_links(html, url) if link in corpus and link != c
    })


def test_pipeline_on_two_executor_jvms(tmp_path):
    # rebuilt every run: a stale zip would ship old engine code to the executors
    subprocess.run(["bash", os.path.join(REPO, "scripts", "package.sh")], check=True)
    zip_path = os.path.join(REPO, "dist", "pybiodatafuse_spark.zip")
    script = _SCRIPT.format(repo=REPO, zip_path=zip_path)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),  # NOT the repo: the zip must provide the package
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][0]
    parts = dict(kv.split("=") for kv in line.split()[1:])
    assert int(parts["ne"]) == _local_edge_count(500)
    assert abs(float(parts["ranksum"]) - 1.0) < 1e-9  # mass conserved across executors
