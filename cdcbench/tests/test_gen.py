"""The generators are deterministic for a seed and produce the mix the
workloads promise."""

import hashlib
import json

from cdcbench import gen


def test_change_stream_same_seed_same_lines():
    a, b = gen.ChangeStream(7, 500), gen.ChangeStream(7, 500)
    assert a.events(3000) == b.events(3000)
    assert a.events(100) == b.events(100)          # continues identically
    assert a.state == b.state


def test_change_stream_other_seed_other_lines():
    assert gen.ChangeStream(7, 500).events(200) != \
        gen.ChangeStream(8, 500).events(200)


def test_change_stream_mix():
    cs = gen.ChangeStream(3, 300)
    lines = cs.events(20_000)
    ops, topics, bad = set(), set(), 0
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            bad += 1
            continue
        if "documentKey" not in ev:
            bad += 1
            continue
        ops.add(ev["operationType"])
        topics.add(f'{ev["ns"]["db"]}.{ev["ns"]["coll"]}')
    assert ops == {"insert", "update", "replace", "delete"}
    assert len(topics) >= 3
    assert bad == cs.rejected
    assert 0.005 < bad / len(lines) < 0.02
    assert cs.delivered + cs.rejected == len(lines)
    assert sum(cs.per_topic.values()) == cs.delivered


def test_change_stream_state_replays():
    """Replaying the valid lines in order gives the tracked state."""
    cs = gen.ChangeStream(5, 200)
    lines = cs.insert_all() + cs.events(5000)
    state = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if "documentKey" not in ev:
            continue
        key = ev["documentKey"]["_id"]
        if ev["operationType"] == "delete":
            state.pop(key, None)
        else:
            state[key] = ev["fullDocument"]
    assert state == {k: cs.doc(k) for k in cs.state}


def test_document_types_and_size_spread():
    cs = gen.ChangeStream(11, 100)
    docs = [json.loads(line).get("fullDocument") for line in cs.insert_all()]
    sizes = {len(d["items"]) for d in docs}
    assert len(sizes) > 4
    d = docs[0]
    assert isinstance(d["seq_no"], int) and d["seq_no"] > 2 ** 31
    assert isinstance(d["rev"], int) and d["rev"] < 2 ** 31
    assert isinstance(d["score"], float)
    assert d["created"].endswith("Z") and "T" in d["created"]
    assert isinstance(d["addr"], dict) and isinstance(d["tags"], list)


def test_tables_deterministic(tmp_path):
    import pyarrow.parquet as pq

    def digest(seed, sub):
        rows = gen.write_tables(tmp_path / sub, seed, 0.001)
        h = hashlib.sha256()
        for name in sorted(rows):
            h.update(pq.read_table(tmp_path / sub / f"{name}.parquet")
                     .to_pandas().to_csv().encode())
        return rows, h.hexdigest()

    rows, a = digest(1, "a")
    _, b = digest(1, "b")
    _, c = digest(2, "c")
    assert a == b and a != c
    assert rows["lineitem"] == 6000 and rows["region"] == 5
