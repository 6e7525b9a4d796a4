"""Host-level mirror detection (Bharat & Broder 1999, "Mirror, mirror
on the Web").

A web-scale crawl wastes budget re-fetching the same site under many
hostnames (CDNs, vanity domains, literal mirrors). Mirror detection
collapses the HOST graph: two hosts whose page-content signature sets
overlap heavily are aliases, and the frontier keeps only the canonical
one. The reference crawls a fixed seed list and never needs this; it is
north-rule frontier hygiene, the host-granularity sibling of the
doc-level fingerprint overlap matcher (operators/fingerprint.py).

Scale shape (10^8 hosts, 10^10 pages): the page table first collapses
to DISTINCT (host, sig), so everything downstream is signature-set
sized, never page sized; then ``operators.shape.pair_mine`` on sig,
with each host's full set size riding along on its rows (no sizes
table joined back). Signatures on more than ``max_df`` hosts (site
chrome, shared boilerplate, empty-page hashes) are non-evidence and
would fan out max_df² pairs each — the one cut drops both.

Containment is reported in integer BASIS POINTS of the smaller host's
set — (10000·shared) DIV min(n_a, n_b) — so the value is bit-exact
cross-engine (no float division; DIV ≡ // on the non-negative domain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.shape import pair_mine


def detect_mirrors(
    pages: DataFrame,
    host_col: str = "host",
    sig_col: str = "sig",
    min_shared: int = 2,
    max_df: int = 16,
) -> DataFrame:
    """Host pairs whose content-signature sets overlap: returns
    (host_a, host_b, n_shared, n_a, n_b, containment_bp) with
    host_a < host_b, for pairs sharing at least ``min_shared``
    signatures that each appear on at most ``max_df`` hosts.

    ``n_a``/``n_b`` count each host's FULL distinct-signature set
    (including widespread signatures the df cut excludes from pairing)
    — the denominator is the host's real size, the numerator only the
    discriminating evidence, so boilerplate can never manufacture a
    mirror verdict. containment_bp == 10000 means every page of the
    smaller host also lives on the larger one."""
    d = pages.select(
        F.col(host_col).alias("host"), F.col(sig_col).alias("sig")
    ).distinct()
    # d is distinct, so a host's row count is its full set size, taken
    # before pair_mine's df cut
    sized = d.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("host")))
    return (
        pair_mine(sized, "sig", "host", max_df, size="n")
        .filter(F.col("shared") >= min_shared)
        .select(
            F.col("a").alias("host_a"),
            F.col("b").alias("host_b"),
            F.col("shared").alias("n_shared"),
            F.col("n_a"),
            F.col("n_b"),
            F.expr("(10000 * shared) DIV least(n_a, n_b)")
            .cast("long")
            .alias("containment_bp"),
        )
    )
