"""Model-based conflict-plane sequence test (VERDICT r13 #5): random
interleavings of two concurrent sessions' write/resize/delete ops over
shared arrays, checked against a pure-dict model that predicts (1) the
detected conflict CLASSES, (2) whether the commit raises under each
solver mode, and (3) the post-resolution repo state (node presence,
shape, per-chunk winner) for use_ours/use_theirs — the same plane the
reference's conflicts/detector.rs + basic_solver.rs test matrix covers
(strategies.rs), extended with this engine's documented
beyond-reference resolutions (node double-update and
update-vs-delete resolve per on_node_conflict instead of always
failing).

This is the test class that caught the r14 use_theirs node-conflict
bug: the merge loop replayed OUR node op regardless of solver mode,
so on_node_conflict="use_theirs" silently behaved as use_ours for
metadata double-updates and update-vs-delete.

Session op bundles are ordered (writes → resize | delete) so every
generated sequence is individually valid; the randomness explores the
cross-session conflict matrix — 3 op kinds × 3 resolutions × 2 arrays
per example, as the verdict asked.  The "WD" bundle writes chunks and
then deletes some of them (the first through delete_chunks_prefix,
which stages the writes and its tombstones as separate items, the rest
through delete_chunk), so one transaction stages several items whose
order decides each chunk: a rebase that re-staged them as one item
brought deleted chunks back.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings

from tests.conftest import scaled_examples
from hypothesis import strategies as st

from icechunk_spark.repo import Repository
from icechunk_spark.repo.session import ConflictError, ConflictSolver

ARRAYS = ["/x", "/y"]
BASE_SHAPE = 8  # chunk_shape [2] -> chunk keys "0".."3"
CHUNKS = [0, 1, 2, 3]
PAY = {"A": b"\xaaA" * 2048, "B": b"\xbbB" * 2048}

_bundle_st = st.one_of(
    st.none(),
    st.tuples(
        st.just("W"),
        st.frozensets(st.sampled_from(CHUNKS), min_size=1, max_size=4),
    ),
    st.tuples(st.just("R"), st.sampled_from([4, 10, 12])),
    st.tuples(
        st.just("WR"),
        st.frozensets(st.sampled_from(CHUNKS), min_size=1, max_size=4),
        st.sampled_from([4, 10, 12]),
    ),
    st.just(("D",)),
    st.frozensets(st.sampled_from(CHUNKS), min_size=1, max_size=4).flatmap(
        lambda w: st.tuples(
            st.just("WD"),
            st.just(w),
            st.frozensets(st.sampled_from(sorted(w)), min_size=1),
        )
    ),
)
_side_st = st.tuples(_bundle_st, _bundle_st)  # one bundle per array
_mode_st = st.sampled_from(["fail", "use_ours", "use_theirs"])
_solver_st = st.one_of(st.none(), st.tuples(_mode_st, _mode_st))


def _kind(b):
    return b[0] if b else None


def _writes(b):
    """Chunks the bundle stages rows for (a deleted write too)."""
    k = _kind(b)
    return set(b[1]) if k in ("W", "WR", "WD") else set()


def _deletes(b):
    return set(b[2]) if _kind(b) == "WD" else set()


def _shape(b):
    k = _kind(b)
    return b[2] if k == "WR" else (b[1] if k == "R" else None)


def _apply_bundle(session, path, bundle, who):
    for c in sorted(_writes(bundle)):
        session.set_chunk_bytes(path, str(c), PAY[who])
    for i, c in enumerate(sorted(_deletes(bundle))):
        if i == 0:
            session.delete_chunks_prefix(path, (c,))
        else:
            session.delete_chunk(path, str(c))
    k = _kind(bundle)
    if k in ("R", "WR"):
        session.update_array(path, shape=[_shape(bundle)])
    elif k == "D":
        session.delete_node(path)


def _predict_conflicts(a, b) -> dict[str, object]:
    """Conflict classes for ONE array given A's (ours, rebasing) and
    B's (theirs, committed) bundles — mirrors _rebase_onto's
    detector."""
    ka, kb = _kind(a), _kind(b)
    node_c = ka in ("R", "WR", "D") and kb in ("R", "WR", "D")
    return {
        "node": node_c,
        "chunk": _writes(a) & _writes(b),
        "deleted_node_write": ka in ("W", "WD") and kb == "D",
        "delete_of_written": ka == "D" and kb in ("W", "WD"),
        "updated_node_write": ka in ("W", "WD") and kb in ("R", "WR"),
    }


def _predicted_kinds(per_array) -> set[str]:
    kinds: set[str] = set()
    for p in per_array.values():
        for k in ("node", "deleted_node_write", "delete_of_written", "updated_node_write"):
            if p[k]:
                kinds.add(k)
        if p["chunk"]:
            kinds.add("chunk")
    return kinds


_NODE_KINDS = {"node", "deleted_node_write", "delete_of_written", "updated_node_write"}


def _predict_raise(kinds: set[str], solver) -> set[str] | None:
    """None = commit succeeds; else the kind set the error carries."""
    if not kinds:
        return None
    if solver is None:
        return kinds
    on_chunk, on_node = solver
    node_kinds = kinds & _NODE_KINDS
    if node_kinds and on_node == "fail":
        return node_kinds
    if "chunk" in kinds and on_chunk == "fail":
        return {"chunk"}
    return None


def _predict_final(a, b, conf, on_chunk, on_node):
    """(present, shape, {chunk_idx: winner}) for one array after A's
    successful resolved commit onto B's."""
    ka, kb = _kind(a), _kind(b)
    shape_b = _shape(b) if kb in ("R", "WR") else BASE_SHAPE

    # --- node presence + shape ---
    if conf["node"]:
        side = a if on_node == "use_ours" else b
        if _kind(side) == "D":
            present, shape = False, None
        else:
            present, shape = True, _shape(side) or BASE_SHAPE
        resurrected = False
    elif conf["deleted_node_write"]:  # A=W|WD, B=D
        present = on_node == "use_ours"
        shape = BASE_SHAPE if present else None
        resurrected = present  # revived from OUR base view: B never wrote
    elif conf["delete_of_written"]:  # A=D, B=W|WD
        present = on_node == "use_theirs"
        shape = BASE_SHAPE if present else None
        resurrected = False
    else:
        # no node-class conflict: A's ops replay over B's tip
        if ka == "D":
            present, shape = False, None
        elif ka in ("R", "WR"):
            present, shape = True, _shape(a)
        else:
            present, shape = kb != "D", shape_b if kb != "D" else None
        resurrected = False
    if not present:
        return (False, None, {})

    # --- which of A's staged chunk writes survive ---
    kept = set(_writes(a))
    if on_chunk == "use_theirs":
        kept -= conf["chunk"]
    if conf["deleted_node_write"] and on_node == "use_theirs":
        kept = set()
    if conf["updated_node_write"] and on_node == "use_theirs":
        kept = set()
    if conf["node"] and on_node == "use_theirs":
        # the r14 handler drops our writes into conflicted nodes THEY
        # deleted or resized — node-level use_theirs supersedes
        # chunk-level keeps (conf["node"] implies their node op exists)
        kept = set()

    # a kept chunk A deleted after writing it is A's tombstone
    owners = {}
    for c in CHUNKS:
        if c in kept:
            owners[c] = None if c in _deletes(a) else "A"
        elif c in _writes(b) and not resurrected:
            owners[c] = None if c in _deletes(b) else "B"
        else:
            owners[c] = None
    return (True, shape, owners)


@settings(
    max_examples=scaled_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(a_side=_side_st, b_side=_side_st, solver=_solver_st)
@example(
    # A writes 0..2 and deletes 0 and 2 (three staged items); B commits 1
    a_side=(("WD", frozenset({0, 1, 2}), frozenset({0, 2})), None),
    b_side=(("W", frozenset({1})), None),
    solver=("use_theirs", "fail"),
)
def test_two_session_conflicts_match_model(spark, tmp_path_factory, a_side, b_side, solver):
    root = str(tmp_path_factory.mktemp("confmodel"))
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        for p in ARRAYS:
            s.create_array(p, shape=[BASE_SHAPE], chunk_shape=[2])

    sa = repo.writable_session("main")
    sb = repo.writable_session("main")
    for path, bundle in zip(ARRAYS, b_side):
        _apply_bundle(sb, path, bundle, "B")
    sb.commit("b", allow_empty=True)
    for path, bundle in zip(ARRAYS, a_side):
        _apply_bundle(sa, path, bundle, "A")

    per_array = {
        p: _predict_conflicts(a, b) for p, a, b in zip(ARRAYS, a_side, b_side)
    }
    kinds = _predicted_kinds(per_array)
    want_raise = _predict_raise(kinds, solver)

    kw = (
        {}
        if solver is None
        else {
            "rebase_with": ConflictSolver(
                on_chunk_conflict=solver[0], on_node_conflict=solver[1]
            )
        }
    )
    try:
        sa.commit("a", allow_empty=True, **kw)
        raised = None
    except ConflictError as e:
        raised = {c["kind"] for c in e.conflicts}

    assert raised == want_raise, (a_side, b_side, solver, kinds)

    if raised is not None:
        # a failed commit must leave the session intact: retrying with
        # the all-ours solver must succeed and produce the all-ours
        # predicted state
        sa.commit(
            "a retry",
            allow_empty=True,
            rebase_with=ConflictSolver(
                on_chunk_conflict="use_ours", on_node_conflict="use_ours"
            ),
        )
        on_chunk = on_node = "use_ours"
    else:
        on_chunk, on_node = solver if solver is not None else ("fail", "fail")

    sess = repo.readonly_session()
    nodes = sess.list_nodes()
    for path, a, b in zip(ARRAYS, a_side, b_side):
        present, shape, owners = _predict_final(
            a, b, per_array[path], on_chunk, on_node
        )
        assert (path in nodes) == present, (path, a, b, solver)
        if not present:
            continue
        assert sess.array_meta(path).shape == [shape], (path, a, b, solver)
        for c, who in owners.items():
            if 2 * c >= shape:
                continue  # beyond a shrunk shape: cropped, not readable state
            got = sess.get_chunk_bytes(path, str(c))
            want = PAY[who] if who else None
            assert got == want, (path, c, who, a, b, solver)


# --- the path-conflict plane (r14 extension): both sessions CREATE the
# same fresh path with different node ids — the reference's
# NewNodeConflictsWithExisting, invisible to node-id matching ---

FRESH = "/z"

_create_st = st.one_of(
    st.none(),
    st.tuples(
        st.just("C"),
        st.frozensets(st.sampled_from(CHUNKS), max_size=3),
    ),
)


def _apply_create(session, bundle, who):
    if bundle is None:
        return
    session.create_array(FRESH, shape=[BASE_SHAPE], chunk_shape=[2])
    for c in sorted(bundle[1]):
        session.set_chunk_bytes(FRESH, str(c), PAY[who])


@settings(
    max_examples=scaled_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    a_create=_create_st,
    b_create=_create_st,
    a_base=_bundle_st,  # one base array keeps the planes interacting
    b_base=_bundle_st,
    solver=st.tuples(_mode_st, _mode_st),
)
def test_path_conflicts_match_model(
    spark, tmp_path_factory, a_create, b_create, a_base, b_base, solver
):
    root = str(tmp_path_factory.mktemp("pathmodel"))
    repo = Repository.create(spark, root)
    with repo.transaction(message="base") as s:
        s.create_array("/x", shape=[BASE_SHAPE], chunk_shape=[2])

    sa = repo.writable_session("main")
    sb = repo.writable_session("main")
    _apply_create(sb, b_create, "B")
    _apply_bundle(sb, "/x", b_base, "B")
    sb.commit("b", allow_empty=True)
    _apply_create(sa, a_create, "A")
    _apply_bundle(sa, "/x", a_base, "A")

    base_conf = _predict_conflicts(a_base, b_base)
    path_c = a_create is not None and b_create is not None
    kinds = _predicted_kinds({"x": base_conf})
    if path_c:
        kinds.add("path")
    on_chunk, on_node = solver
    node_kinds = kinds & (_NODE_KINDS | {"path"})
    if node_kinds and on_node == "fail":
        want_raise = node_kinds
    elif "chunk" in kinds and on_chunk == "fail":
        want_raise = {"chunk"}
    else:
        want_raise = None

    try:
        sa.commit(
            "a",
            allow_empty=True,
            rebase_with=ConflictSolver(
                on_chunk_conflict=on_chunk, on_node_conflict=on_node
            ),
        )
        raised = None
    except ConflictError as e:
        raised = {c["kind"] for c in e.conflicts}
    assert raised == want_raise, (a_create, b_create, a_base, b_base, solver)

    if raised is not None:
        sa.commit(
            "a retry",
            allow_empty=True,
            rebase_with=ConflictSolver(
                on_chunk_conflict="use_ours", on_node_conflict="use_ours"
            ),
        )
        on_chunk = on_node = "use_ours"

    sess = repo.readonly_session()
    nodes = sess.list_nodes()

    # the fresh path: winner's node AND winner's chunks — the loser's
    # chunks must not bleed through (different node ids)
    if a_create is None and b_create is None:
        assert FRESH not in nodes
    else:
        if path_c:
            winner, bundle = ("A", a_create) if on_node == "use_ours" else ("B", b_create)
        else:
            winner, bundle = ("A", a_create) if a_create else ("B", b_create)
        assert FRESH in nodes
        for c in CHUNKS:
            got = sess.get_chunk_bytes(FRESH, str(c))
            want = PAY[winner] if c in bundle[1] else None
            assert got == want, (FRESH, c, winner, a_create, b_create, solver)

    # the base array still follows the original model
    present, shape, owners = _predict_final(a_base, b_base, base_conf, on_chunk, on_node)
    assert ("/x" in nodes) == present, (a_base, b_base, solver)
    if present:
        assert sess.array_meta("/x").shape == [shape]
        for c, who in owners.items():
            if 2 * c >= shape:
                continue  # beyond a shrunk shape: cropped, not readable state
            got = sess.get_chunk_bytes("/x", str(c))
            assert got == (PAY[who] if who else None), (c, who, a_base, b_base, solver)
