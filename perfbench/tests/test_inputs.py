import pyarrow.parquet as pq

from perfbench import inputs


def test_transcripts_are_deterministic_and_sized():
    a = inputs.gen_turns(7, 500)
    b = inputs.gen_turns(7, 500)
    c = inputs.gen_turns(8, 500)
    assert a == b
    assert a != c
    assert len(a) == 500
    keys = [(r[0], r[1]) for r in a]
    assert len(set(keys)) == len(keys)


def test_chat_turns_are_short_and_tool_turns_rich():
    rows = inputs.gen_turns(3, 2000)
    chat = [r[3] for r in rows if r[2] != "tool"]
    tool = [r[3] for r in rows if r[2] == "tool"]
    assert tool and all(r[4] is not None for r in rows if r[2] == "tool")
    assert max(len(t) for t in chat) < 1000
    assert sum(len(t) for t in tool) / len(tool) > 3 * sum(len(t) for t in chat) / len(chat)


def test_tables_are_deterministic():
    a = inputs.gen_tables(5, 0.001)
    b = inputs.gen_tables(5, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(inputs.gen_tables(6, 0.001)["lineitem"])


def test_cached_input_is_reused_and_written_for_spark(tmp_path):
    first = inputs.transcripts(tmp_path, 1, 300, n_files=4)
    again = inputs.transcripts(tmp_path, 1, 300, n_files=4)
    assert not first.cached and again.cached
    assert (first.rows, first.digest, first.bytes) == (again.rows, again.digest, again.bytes)
    files = sorted(tmp_path.glob(f"{first.digest}/*.parquet"))
    assert len(files) == 4
    schema = pq.read_schema(files[0])
    assert str(schema.field("ts").type) == "timestamp[us]"
    assert sum(pq.read_metadata(f).num_rows for f in files) == 300
