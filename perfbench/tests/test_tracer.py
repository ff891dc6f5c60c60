import threading
import types

from tracer import Tracer, layer_totals


def _module():
    m = types.ModuleType("fake_mod")

    def write(df, path, token=None):
        (path / f"part-{token}.parquet").write_bytes(b"x" * 10)
        return ("written", df, token)

    def outer(df, path):
        return m.write(df, path, token="inner")

    m.write = write
    m.outer = outer
    return m


def test_wrapper_passes_arguments_and_results_through(tmp_path):
    m = _module()
    orig = m.write
    t = Tracer()
    t.wrap(m, "write", "index.append", path_arg=1)
    assert m.write is not orig
    assert m.write("df", tmp_path, token="a") == ("written", "df", "a")
    t.uninstall()
    assert m.write is orig
    assert [s.name for s in t.spans] == ["fake_mod.write"]


def test_nested_same_layer_spans_are_not_outermost(tmp_path):
    m = _module()
    t = Tracer()
    t.wrap(m, "write", "index.append", path_arg=1)
    t.wrap(m, "outer", "index.append", path_arg=1)
    t.begin_query("q")
    m.outer("df", tmp_path)
    t.end_query()
    t.uninstall()
    by_name = {s.name: s for s in t.spans}
    assert by_name["fake_mod.outer"].outermost
    assert not by_name["fake_mod.write"].outermost
    assert by_name["fake_mod.write"].query == "q"
    secs, calls = layer_totals(t.spans)
    assert calls["fake_mod.outer"] == 1 and calls["fake_mod.write"] == 0
    # the nested write's file is counted once, by the outermost writer
    assert t.files["index.files_written"] == 1
    assert t.files["index.bytes_written"] == 10


def test_concurrent_writers_to_one_dir_count_each_file_once(tmp_path):
    m = _module()
    t = Tracer()
    t.wrap(m, "write", "index.append", path_arg=1)
    t.begin_query("q")
    threads = [threading.Thread(target=m.write, args=("df", tmp_path), kwargs={"token": str(i)}) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=10)
    t.end_query()
    t.uninstall()
    assert not any(th.is_alive() for th in threads)
    assert t.files["index.files_written"] == 8
    # pool-thread spans hang off the query call that spawned them
    q = next(i for i, s in enumerate(t.spans) if s.layer == "query")
    assert all(s.parent == q for s in t.spans if s.layer == "index.append")


def test_exceptions_propagate_and_close_the_span(tmp_path):
    m = types.ModuleType("fake_mod")

    def boom():
        raise KeyError("x")

    m.boom = boom
    t = Tracer()
    t.wrap(m, "boom", "io")
    try:
        m.boom()
    except KeyError:
        pass
    else:
        raise AssertionError("expected KeyError")
    t.uninstall()
    assert t.spans[0].end >= t.spans[0].start > 0
