"""Output checks, run after the timer stops. Each returns an error string,
or None when the engine's output is correct.

The reference semantics are those of ``tests/oracle.py``, vectorised with
numpy so that they finish in seconds on benchmark-sized graphs.
"""

from __future__ import annotations

import networkx as nx
import numpy as np

EPS = 0.15


def _dense(vertices: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """Map vertex ids to 0..n-1 positions of the sorted vertex array."""
    return np.searchsorted(vertices, src), np.searchsorted(vertices, dst)


def pagerank_oracle(vertices, src, dst, iters: int, eps: float = EPS) -> np.ndarray:
    """``tests/oracle.pagerank_oracle`` for a fixed number of supersteps:
    uniform start, dangling mass spread uniformly, pi' = eps/n +
    (1-eps)(contribs + m/n)."""
    n = len(vertices)
    s, d = _dense(vertices, src, dst)
    out = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out == 0
    pi = np.full(n, 1.0 / n)
    for _ in range(iters):
        w = np.divide(pi, out, out=np.zeros(n), where=~dangling)
        contrib = np.bincount(d, weights=w[s], minlength=n)
        m = pi[dangling].sum()
        pi = eps / n + (1.0 - eps) * (contrib + m / n)
    return pi


def check_pagerank(vertices, src, dst, iters, v, rank) -> str | None:
    expect = pagerank_oracle(vertices, src, dst, iters)
    got = np.zeros(len(vertices))
    if len(v) != len(vertices) or not np.array_equal(np.sort(v), vertices):
        return f"PI returned {len(v)} vertices, expected {len(vertices)}"
    got[np.searchsorted(vertices, v)] = rank
    if not np.allclose(got, expect, rtol=1e-6, atol=1e-12):
        return f"PI ranks differ from the oracle by up to {np.abs(got - expect).max():.3g}"
    return None


def mc_expected_visits(vertices, src, dst, walks: int, steps: int,
                       eps: float = EPS) -> np.ndarray:
    """Exact expectation of the Monte Carlo visit counts zeta: every vertex
    starts ``walks`` coupons, each survives a superstep w.p. 1-eps and moves
    to a uniform out-edge, coupons at dangling vertices die, and zeta sums
    the coupons present at supersteps 0..steps."""
    n = len(vertices)
    s, d = _dense(vertices, src, dst)
    out = np.bincount(s, minlength=n).astype(np.float64)
    c = np.full(n, float(walks))
    zeta = c.copy()
    for _ in range(steps):
        per_edge = np.divide(c, out, out=np.zeros(n), where=out > 0)[s]
        c = (1.0 - eps) * np.bincount(d, weights=per_edge, minlength=n)
        zeta += c
    return zeta


def mc_l1_bound(mu: np.ndarray, steps: int, z: float = 4.0) -> float:
    """Statistical bound on the L1 distance between the normalised visit
    counts zeta/sum(zeta) and their expectation mu/sum(mu).

    A walk visits a vertex at most steps+1 times, so
    Var(zeta_v) <= sigma_v^2 = (steps+1) mu_v. For near-normal counts
    E|zeta_v - mu_v| <= sqrt(2/pi) sigma_v, and the sum over vertices
    spreads by about sqrt((1 - 2/pi) sum sigma_v^2); z of those spreads
    are the slack. Normalising by sum(zeta) instead of sum(mu) adds at
    most |sum(zeta) - sum(mu)| / sum(mu), whose own spread is at most
    sqrt((steps+1) sum mu). The bound shrinks as 1/sqrt(walks)."""
    var = (steps + 1) * mu
    total = mu.sum()
    spread = np.sqrt((1.0 - 2.0 / np.pi) * var.sum())
    return float((np.sqrt(2.0 / np.pi) * np.sqrt(var).sum() + z * spread
                  + z * np.sqrt(var.sum())) / total)


def mc_l1(vertices, v, rank, mu) -> float:
    got = np.zeros(len(vertices))
    got[np.searchsorted(vertices, v)] = rank
    return float(np.abs(got - mu / mu.sum()).sum())


def mc_max_z(vertices, v, rank, total_visits: int, mu, steps: int) -> float:
    """Largest deviation of one vertex's visit count rank * total_visits
    from its expectation, in units of sigma_v = sqrt((steps+1) mu_v)."""
    zeta = np.zeros(len(vertices))
    zeta[np.searchsorted(vertices, v)] = rank * total_visits
    return float((np.abs(zeta - mu) / np.sqrt((steps + 1) * mu)).max())


def check_monte_carlo(vertices, src, dst, walks, steps, v, rank,
                      total_visits: int, expected_total: int | None,
                      seed: int = 0, max_z: float = 6.0) -> tuple[str | None, dict | None]:
    """The MC check and its figures. Two tests against the exact visit
    expectation: the L1 distance of the ranks (within ``mc_l1_bound``)
    and every single vertex's visit count (within ``max_z`` sigma_v, which
    catches a bias on a few vertices that the L1 sum cannot see). The
    figures also hold the L1 distance of uniform ranks and of a seeded
    permutation of the ranks; the check must reject both, and when it
    cannot, the ranks are not verified and the call fails."""
    if len(v) != len(vertices) or not np.array_equal(np.sort(v), vertices):
        return f"MC returned {len(v)} vertices, expected {len(vertices)}", None
    mu = mc_expected_visits(vertices, src, dst, walks, steps)
    bound = mc_l1_bound(mu, steps)
    l1 = mc_l1(vertices, v, rank, mu)
    uniform = mc_l1(vertices, vertices, np.full(len(vertices), 1.0 / len(vertices)), mu)
    permuted = mc_l1(vertices, v, np.random.default_rng(seed).permutation(rank), mu)
    z = mc_max_z(vertices, v, rank, total_visits, mu, steps)
    figures = {"l1": l1, "bound": bound, "uniform_l1": uniform, "permuted_l1": permuted,
               "max_z": z}
    if abs(rank.sum() - 1.0) > 1e-9:
        return f"MC ranks sum to {rank.sum()!r}, not 1", figures
    if expected_total is not None and total_visits != expected_total:
        return (f"MC total_visits {total_visits} != {expected_total} of an earlier run",
                figures)
    if min(uniform, permuted) <= bound:
        return (f"MC check too weak: uniform or permuted ranks lie within the L1 "
                f"bound {bound:.4f}", figures)
    if l1 > bound:
        return f"MC ranks are {l1:.4f} from their expectation in L1 (bound {bound:.4f})", figures
    if z > max_z:
        return f"an MC visit count is {z:.1f} sigma from its expectation (limit {max_z})", figures
    return None, figures


def _undirected(vertices, src, dst) -> nx.Graph:
    g = nx.Graph()
    g.add_nodes_from(vertices.tolist())
    keep = src != dst
    g.add_edges_from(zip(src[keep].tolist(), dst[keep].tolist()))
    return g


def check_components(vertices, src, dst, v, component) -> str | None:
    """Label = min vertex id of the undirected component."""
    expect = {}
    for comp in nx.connected_components(_undirected(vertices, src, dst)):
        lo = min(comp)
        expect.update(dict.fromkeys(comp, lo))
    got = dict(zip(v.tolist(), component.tolist()))
    if got != expect:
        bad = sum(got.get(k) != x for k, x in expect.items())
        return f"CC labels differ from the oracle on {bad} vertices"
    return None


def check_triangles(vertices, src, dst, count: int) -> str | None:
    expect = sum(nx.triangles(_undirected(vertices, src, dst)).values()) // 3
    if count != expect:
        return f"triangle count {count} != oracle {expect}"
    return None


def lpa_oracle(vertices, src, dst, max_iters: int) -> np.ndarray:
    """``tests/oracle.lpa_oracle``: synchronous, each vertex takes the most
    frequent label among its distinct undirected neighbours, ties to the
    smallest label, until no label changes."""
    n = len(vertices)
    s, d = _dense(vertices, src, dst)
    keep = s != d
    pairs = np.unique(np.concatenate([
        np.stack([s[keep], d[keep]], 1), np.stack([d[keep], s[keep]], 1)]), axis=0)
    u, w = pairs[:, 0], pairs[:, 1]  # w receives u's label
    labels = vertices.copy()
    for _ in range(max_iters):
        lw = np.stack([w, labels[u]], 1)
        keys, cnt = np.unique(lw, axis=0, return_counts=True)
        # per receiver: highest count first, then smallest label
        order = np.lexsort((keys[:, 1], -cnt, keys[:, 0]))
        keys = keys[order]
        first = np.r_[True, keys[1:, 0] != keys[:-1, 0]]
        new = labels.copy()
        new[keys[first, 0]] = keys[first, 1]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def check_labelprop(vertices, src, dst, max_iters, v, label) -> str | None:
    expect = lpa_oracle(vertices, src, dst, max_iters)
    got = np.full(len(vertices), -1, dtype=np.int64)
    got[np.searchsorted(vertices, v)] = label
    if not np.array_equal(got, expect):
        return f"LPA labels differ from the oracle on {(got != expect).sum()} vertices"
    return None


def transcript_edge_counts(t) -> tuple[int, int]:
    """(edges, vertices) that ``operators.edges.transcript_edges`` must
    produce from a transcripts pandas frame: one turn_chain and one
    role_role edge per consecutive turn pair, one turn_tool edge per
    tool-bearing turn; vertices are every turn, the roles and tools."""
    lens = t.groupby("conv_id").size()
    pairs = int((lens - 1).sum())
    tools = int(t["tool"].notna().sum())
    n_vertices = len(t) + t["role"].nunique() + t["tool"].dropna().nunique()
    return 2 * pairs + tools, n_vertices
