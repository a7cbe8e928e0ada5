"""Wire-format validation of the pure-Python protobuf shim
(busdata_pipeline_spark/vendor/protoshim) against the REAL
protobuf-java implementation embedded in Spark's jars.

The shim exists so pyspark's transformWithStateInPandas state-server
protocol (StateMessage_pb2) runs in containers without a protobuf
wheel.  These tests prove interoperability in both directions against
the actual peer the shim must talk to: the JVM state server parses the
generated ``StateMessage$*`` classes with protobuf-java
(org.sparkproject.spark_core.protobuf shading), so

  - every shim-serialized request must parse in protobuf-java to the
    intended field values, and protobuf-java's canonical re-serialization
    must equal the shim's bytes;
  - every protobuf-java-serialized response must parse in the shim to
    identical field values.

If the real protobuf distribution is installed these tests still run —
then they validate whichever runtime ``ensure_protobuf_runtime`` chose.
"""

from __future__ import annotations

import pytest

from busdata_pipeline_spark.streaming.stateful import ensure_protobuf_runtime


@pytest.fixture(scope="module")
def sm():
    ensure_protobuf_runtime()
    import pyspark.sql.streaming.proto.StateMessage_pb2 as mod
    return mod


def _java_parser(spark, simple_name: str):
    """(parse, new_builder) for a StateMessage$<simple_name> class via
    JVM reflection (py4j can't name inner classes directly)."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateMessage$"
        + simple_name
    )
    barr = jvm.java.lang.Class.forName("[B")
    ctypes = gw.new_array(jvm.java.lang.Class, 1)
    ctypes[0] = barr
    parse_m = cls.getMethod("parseFrom", ctypes)
    empty = gw.new_array(jvm.java.lang.Class, 0)
    builder_m = cls.getMethod("newBuilder", empty)
    noargs = gw.new_array(jvm.java.lang.Object, 0)

    def parse(raw: bytes):
        args = gw.new_array(jvm.java.lang.Object, 1)
        args[0] = raw
        return parse_m.invoke(None, args)

    def new_builder():
        return builder_m.invoke(None, noargs)

    return parse, new_builder


def _roundtrip(spark, simple_name, shim_msg):
    """shim bytes -> protobuf-java parse -> canonical bytes; assert
    byte-identical (protobuf-java serializes in field order, as the
    shim does), and return the parsed Java message for field checks."""
    parse, _ = _java_parser(spark, simple_name)
    raw = shim_msg.SerializeToString()
    jmsg = parse(raw)
    assert bytes(jmsg.toByteArray()) == raw
    return jmsg


def test_handle_state_request_all_enum_values(spark, sm):
    for name in ("PRE_INIT", "CREATED", "INITIALIZED", "DATA_PROCESSED",
                 "TIMER_PROCESSED", "CLOSED"):
        req = sm.StateRequest(statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=getattr(sm, name))))
        jmsg = _roundtrip(spark, "StateRequest", req)
        jstate = (jmsg.getStatefulProcessorCall().getSetHandleState()
                  .getState().toString())
        assert jstate == name


def test_value_state_chain_with_bytes_payload(spark, sm):
    update = sm.ValueStateUpdate(value=b"\x00\xffarrow-bytes\x01")
    call = sm.ValueStateCall(stateName="trip", valueStateUpdate=update)
    req = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(valueStateCall=call))
    jmsg = _roundtrip(spark, "StateRequest", req)
    jcall = jmsg.getStateVariableRequest().getValueStateCall()
    assert jcall.getStateName() == "trip"
    assert bytes(jcall.getValueStateUpdate().getValue().toByteArray()) \
        == b"\x00\xffarrow-bytes\x01"


def test_repeated_bytes_list_put(spark, sm):
    vals = [b"a", b"", b"\x80\x81" * 100]
    put = sm.ListStatePut(value=vals, fetchWithArrow=True)
    call = sm.ListStateCall(stateName="history", listStatePut=put)
    req = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(listStateCall=call))
    jmsg = _roundtrip(spark, "StateRequest", req)
    jput = jmsg.getStateVariableRequest().getListStateCall().getListStatePut()
    assert jput.getFetchWithArrow() is True
    assert [bytes(jput.getValue(i).toByteArray())
            for i in range(jput.getValueCount())] == vals


def test_int64_timer_values_including_negative(spark, sm):
    # RegisterTimer.expiryTimestampMs is int64: check max-ish and
    # negative values (negative int64 -> 10-byte varint two's complement)
    for ts in (0, 1, 1_700_000_000_123, -1, -42, 2**62):
        reg = sm.RegisterTimer(expiryTimestampMs=ts)
        cmd = sm.TimerStateCallCommand(register=reg)
        call = sm.StatefulProcessorCall(timerStateCall=cmd)
        req = sm.StateRequest(statefulProcessorCall=call)
        jmsg = _roundtrip(spark, "StateRequest", req)
        got = (jmsg.getStatefulProcessorCall().getTimerStateCall()
               .getRegister().getExpiryTimestampMs())
        assert got == ts


def test_oneof_last_writer_wins(spark, sm):
    req = sm.StateRequest()
    req.statefulProcessorCall = sm.StatefulProcessorCall(
        setHandleState=sm.SetHandleState(state=sm.CREATED))
    # switching the oneof member must clear the first
    req.stateVariableRequest = sm.StateVariableRequest(
        valueStateCall=sm.ValueStateCall(
            stateName="s", exists=sm.Exists()))
    jmsg = _roundtrip(spark, "StateRequest", req)
    assert jmsg.hasStateVariableRequest()
    assert not jmsg.hasStatefulProcessorCall()


def test_java_built_responses_parse_in_shim(spark, sm):
    # Build responses with the protobuf-java Builder API and parse with
    # the shim — the direction the worker exercises on every reply.
    _, new_builder = _java_parser(spark, "StateResponse")
    b = new_builder()
    b.setStatusCode(7)
    b.setErrorMessage("Schrödinger £ ♞ failure")
    jbytes = bytes(b.build().toByteArray())
    resp = sm.StateResponse()
    resp.ParseFromString(jbytes)
    assert resp.statusCode == 7
    assert resp.errorMessage == "Schrödinger £ ♞ failure"
    assert resp.value == b""

    _, long_builder = _java_parser(spark, "StateResponseWithLongTypeVal")
    lb = long_builder()
    lb.setStatusCode(0)
    lb.setValue(-987654321012345)
    lresp = sm.StateResponseWithLongTypeVal()
    lresp.ParseFromString(bytes(lb.build().toByteArray()))
    assert lresp.value == -987654321012345


def test_java_built_list_get_response_with_repeated_bytes(spark, sm):
    jvm = spark._jvm
    _, new_builder = _java_parser(spark, "StateResponseWithListGet")
    b = new_builder()
    b.setStatusCode(0)
    b.setRequireNextFetch(True)
    bs = jvm.org.sparkproject.spark_core.protobuf.ByteString
    for payload in (b"row-1", b"", b"\x00" * 17):
        b.addValue(bs.copyFrom(payload))
    resp = sm.StateResponseWithListGet()
    resp.ParseFromString(bytes(b.build().toByteArray()))
    assert resp.statusCode == 0
    assert resp.requireNextFetch is True
    assert list(resp.value) == [b"row-1", b"", b"\x00" * 17]


def test_java_built_map_iterator_with_kv_pairs(spark, sm):
    jvm = spark._jvm
    _, resp_builder = _java_parser(spark, "StateResponseWithMapIterator")
    _, kv_builder = _java_parser(spark, "KeyAndValuePair")
    bs = jvm.org.sparkproject.spark_core.protobuf.ByteString
    b = resp_builder()
    b.setStatusCode(0)
    for k, v in ((b"k1", b"v1"), (b"k2", b"")):
        kv = kv_builder()
        kv.setKey(bs.copyFrom(k))
        kv.setValue(bs.copyFrom(v))
        b.addKvPair(kv.build())
    resp = sm.StateResponseWithMapIterator()
    resp.ParseFromString(bytes(b.build().toByteArray()))
    pairs = [(p.key, p.value) for p in resp.kvPair]
    assert pairs == [(b"k1", b"v1"), (b"k2", b"")]


def test_java_built_timer_response(spark, sm):
    _, resp_builder = _java_parser(spark, "StateResponseWithTimer")
    _, ti_builder = _java_parser(spark, "TimerInfo")
    b = resp_builder()
    b.setStatusCode(0)
    b.setRequireNextFetch(False)
    for ts in (123, -5, 2**40):
        ti = ti_builder()
        ti.setTimestampMs(ts)
        b.addTimer(ti.build())
    resp = sm.StateResponseWithTimer()
    resp.ParseFromString(bytes(b.build().toByteArray()))
    assert [t.timestampMs for t in resp.timer] == [123, -5, 2**40]


def test_utils_parse_string_schema_request(spark, sm):
    schema = "struct<trip_id:bigint,meters:double>"
    req = sm.StateRequest(utilsRequest=sm.UtilsRequest(
        parseStringSchema=sm.ParseStringSchema(schema=schema)))
    jmsg = _roundtrip(spark, "StateRequest", req)
    assert (jmsg.getUtilsRequest().getParseStringSchema().getSchema()
            == schema)


def test_implicit_key_and_defaults_skipped_on_wire(spark, sm):
    # proto3: unset/default scalars must not be serialized at all
    req = sm.StateRequest(
        implicitGroupingKeyRequest=sm.ImplicitGroupingKeyRequest(
            setImplicitKey=sm.SetImplicitKey(key=b"\x01key")))
    raw = req.SerializeToString()
    jmsg = _roundtrip(spark, "StateRequest", req)
    assert bytes(jmsg.getImplicitGroupingKeyRequest().getSetImplicitKey()
                 .getKey().toByteArray()) == b"\x01key"
    # version (int32, default 0) absent from the wire
    assert raw[0:1] != b"\x08"

    empty = sm.StateResponse()
    assert empty.SerializeToString() == b""


# ---------------------------------------------------------------------------
# round-8 ADVICE regression: submessage auto-vivification.
#
# pyspark's stateful_processor_api_client writes TTL config with the
# real-protobuf vivify pattern ``state_call_command.ttl.durationMs = n``.
# The shim's old __getattr__ returned a fresh UNattached instance for
# unset submessage fields, so the TTL silently vanished from the wire
# and TTL'd state never expired.  Vivified children must now attach on
# first mutation (and only then — read-only access stays absent).


def test_auto_vivified_submessage_reaches_wire(spark, sm):
    cmd = sm.StateCallCommand()
    cmd.stateName = "s"
    cmd.ttl.durationMs = 9000          # the pyspark client pattern
    assert cmd.HasField("ttl")
    jmsg = _roundtrip(spark, "StateCallCommand", cmd)
    assert jmsg.hasTtl()
    assert jmsg.getTtl().getDurationMs() == 9000


def test_read_only_submessage_access_stays_absent(spark, sm):
    cmd = sm.StateCallCommand()
    assert cmd.ttl.durationMs == 0     # default read, no mutation
    assert not cmd.HasField("ttl")
    assert cmd.SerializeToString() == b""


def test_vivified_chain_with_repeated_append(spark, sm):
    """Multi-level vivify ending in a repeated-field append must mark
    presence all the way up and serialize the chain."""
    req = sm.StateRequest()
    put = req.stateVariableRequest.listStateCall.listStatePut
    put.value.append(b"row-bytes")
    put.fetchWithArrow = False
    req.stateVariableRequest.listStateCall.stateName = "lst"
    assert req.HasField("stateVariableRequest")
    jmsg = _roundtrip(spark, "StateRequest", req)
    jcall = jmsg.getStateVariableRequest().getListStateCall()
    assert jcall.getStateName() == "lst"
    assert jcall.hasListStatePut()
    assert bytes(jcall.getListStatePut().getValue(0).toByteArray()) \
        == b"row-bytes"


def test_vivified_instance_is_cached_and_stable(spark, sm):
    cmd = sm.StateCallCommand()
    a = cmd.ttl
    b = cmd.ttl
    assert a is b                       # same attached instance
    a.durationMs = 7
    assert cmd.ttl.durationMs == 7


def test_stale_child_after_clear_does_not_resurrect(spark, sm):
    cmd = sm.StateCallCommand()
    ttl = cmd.ttl
    ttl.durationMs = 5
    cmd.Clear()
    ttl.durationMs = 11                 # mutating the detached child
    assert not cmd.HasField("ttl")
    assert cmd.SerializeToString() == b""


def test_ensure_runtime_wires_workers_even_when_shim_preimported(spark):
    """Regression: a prior no-spark ensure_protobuf_runtime() call makes
    google.protobuf importable in-driver (shim on sys.path); the
    spark-armed call must STILL report "shim" and wire the worker env
    (PYTHONPATH for the TWS driver worker) instead of mistaking the
    shim for the real distribution and skipping the wiring — that skip
    crashed transformWithState's pre-init worker when test files shared
    a session."""
    import os

    ensure_protobuf_runtime()                   # driver-only insert
    got = ensure_protobuf_runtime(spark)        # must still wire spark
    if got == "protobuf":
        pytest.skip("real protobuf installed; shim path not exercised")
    assert got == "shim"
    pp = spark.sparkContext.environment.get("PYTHONPATH", "")
    assert any("protoshim" in part for part in pp.split(os.pathsep)), pp


def test_shipped_shim_zip_lives_in_the_context_temp_dir(spark):
    """The zip shipped to workers goes to the SparkContext's own temp
    dir, which is deleted with the JVM, not to the system temp dir,
    where one zip per process used to pile up."""
    import glob
    import os
    import tempfile

    if ensure_protobuf_runtime(spark) == "protobuf":
        pytest.skip("real protobuf installed; no shim zip is shipped")
    sc = spark.sparkContext
    assert glob.glob(os.path.join(sc._temp_dir, "protoshim-google*.zip"))
    assert not glob.glob(os.path.join(
        tempfile.gettempdir(), f"protoshim-google-{os.getpid()}.zip"))
