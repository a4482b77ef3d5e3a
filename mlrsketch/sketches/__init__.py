"""Engine-independent mergeable sketch cores (numpy-vectorized).

Every sketch implements the mergeable-summaries contract (Agarwal et al.,
"Mergeable Summaries", PODS 2012): an associative ``merge`` over
serializable states, so partial states computed per Spark partition (or
per salted sub-group) combine to the same answer regardless of the split.
This is exactly the `begin/update/end` shape of Miller's DSL aggregations
(pkg/runtime/state.go:16-36, pkg/dsl/cst/emit_emitp.go) plus the `merge`
Miller never needed single-threaded — see SURVEY.md §2.9.

Updates take whole batches, never scalars. The hash-keyed cores (HLL,
theta, Bloom) and the quantile cores take numpy arrays of an Arrow
column batch; the heavy-hitter summary (``TopKSketch``, SpaceSaving)
is keyed by the value string and takes a batch's distinct values with
their counts, so it needs no hash at all.
"""

from mlrsketch.sketches.bloom import BloomFilter
from mlrsketch.sketches.bootci import BootstrapCI
from mlrsketch.sketches.cms import TopKSketch
from mlrsketch.sketches.hll import HyperLogLog
from mlrsketch.sketches.kll import KLL
from mlrsketch.sketches.tdigest import TDigest
from mlrsketch.sketches.theta import (
    ThetaSketch,
    theta_a_not_b,
    theta_intersect,
    theta_union,
)

__all__ = [
    "BootstrapCI",
    "HyperLogLog",
    "TopKSketch",
    "BloomFilter",
    "TDigest",
    "KLL",
    "ThetaSketch",
    "theta_union",
    "theta_intersect",
    "theta_a_not_b",
]
