"""Descriptor-set + JVM decode path (sources/protodesc.py).

The hand-encoded FileDescriptorSet is validated against a REAL
protobuf runtime: the spark-connect jar ships a shaded protobuf-java
(org.sparkproject.connect.protobuf) that parses the bytes, builds
live Descriptors, and DynamicMessage-decodes protowire-encoded
fixtures — so descriptor correctness does not depend on the optional
spark-protobuf SQL module being installed. When that module IS on the
classpath, the cross-decoder identity test additionally pins
from_protobuf row-for-row against the Arrow codec.
"""

from __future__ import annotations

import pytest

from cga_kinesis_to_elasticsearch_spark.sources.protodesc import (
    decode_protobuf_records_jvm,
    descriptor_set_bytes,
    jvm_protobuf_available,
    select_protobuf_decoder,
    write_descriptor_set,
)
from cga_kinesis_to_elasticsearch_spark.sources.protowire import (
    decode_protobuf_records,
    encode_envelope,
)

_FIXTURES = [
    {
        "origin": "router",
        "event_type": 4,
        "timestamp": -1234567890123,
        "http_start_stop": {
            "start_timestamp": 10,
            "stop_timestamp": 20,
            "request_id": {"low": -1, "high": 2**63 - 1},
            "peer_type": 1,
            "method": 2,
            "uri": "/v2/apps",
            "remote_address": "10.0.0.1",
            "user_agent": "curl",
            "status_code": 200,
            "content_length": 512,
            "instance_index": 3,
            "forwarded": ["a", "b"],
        },
        "tags": {"deployment": "cf", "z": "y"},
    },
    {
        "origin": "rep",
        "event_type": 5,
        "log_message": {
            "message": "hello world",
            "message_type": 1,
            "timestamp": 42,
            "app_id": "app-1",
            "source_type": "RTR",
        },
    },
    {
        "origin": "metron",
        "event_type": 6,
        "value_metric": {"name": "cpu", "value": -0.25, "unit": "%"},
    },
    {
        "origin": "metron",
        "event_type": 7,
        "counter_event": {"name": "dropped", "delta": 9, "total": 100},
    },
    {
        "origin": "doppler",
        "event_type": 8,
        "error": {"source": "x", "code": -7, "message": "boom"},
    },
    {
        "origin": "rep",
        "event_type": 9,
        "container_metric": {
            "application_id": "g-1",
            "instance_index": 0,
            "cpu_percentage": 12.5,
            "memory_bytes": 1 << 40,
            "disk_bytes": 7,
        },
    },
]


def _shaded(spark):
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName(
            "org.sparkproject.connect.protobuf.DescriptorProtos"
        )
    except Exception:
        pytest.skip("shaded protobuf runtime not on the classpath")
    return jvm


def _build_fd(spark):
    jvm = _shaded(spark)
    gw = spark.sparkContext._gateway
    DP = jvm.org.sparkproject.connect.protobuf.DescriptorProtos
    fds = DP.FileDescriptorSet.parseFrom(descriptor_set_bytes())
    Desc = jvm.org.sparkproject.connect.protobuf.Descriptors
    arr = gw.new_array(Desc.FileDescriptor, 0)
    return jvm, Desc.FileDescriptor.buildFrom(fds.getFile(0), arr)


class TestDescriptorAgainstRealRuntime:
    def test_parses_and_declares_envelope_family(self, spark):
        _, fd = _build_fd(spark)
        env = fd.findMessageTypeByName("Envelope")
        assert env is not None
        names = {
            env.getFields().get(i).getName()
            for i in range(env.getFields().size())
        }
        assert {
            "origin", "event_type", "timestamp", "tags", "log_message",
            "http_start_stop", "value_metric", "counter_event", "error",
            "container_metric", "deployment", "job", "index", "ip",
        } == names
        # wire numbers transcribed from envelope.pb.go:99-118
        assert env.findFieldByName("origin").getNumber() == 1
        assert env.findFieldByName("event_type").getNumber() == 2
        assert env.findFieldByName("timestamp").getNumber() == 6
        assert env.findFieldByName("http_start_stop").getNumber() == 7
        assert env.findFieldByName("tags").getNumber() == 17
        assert env.findFieldByName("tags").isMapField()
        assert env.findFieldByName("origin").isRequired()
        assert not env.findFieldByName("timestamp").isRequired()

    def test_dynamic_message_matches_protowire(self, spark):
        jvm, fd = _build_fd(spark)
        DM = jvm.org.sparkproject.connect.protobuf.DynamicMessage
        env_d = fd.findMessageTypeByName("Envelope")

        def walk(msg, desc, pyval):
            for key, val in pyval.items():
                f = desc.findFieldByName(key)
                got = msg.getField(f)
                if isinstance(val, dict) and not f.isMapField():
                    walk(got, f.getMessageType(), val)
                elif f.isMapField():
                    entries = {
                        got.get(i).getField(
                            f.getMessageType().findFieldByName("key")
                        ): got.get(i).getField(
                            f.getMessageType().findFieldByName("value")
                        )
                        for i in range(got.size())
                    }
                    assert entries == val, key
                elif isinstance(val, list):
                    assert [got.get(i) for i in range(got.size())] == val, key
                elif isinstance(val, float):
                    assert abs(got - val) < 1e-12, key
                else:
                    assert got == val, key

        for fixture in _FIXTURES:
            payload = encode_envelope(fixture)
            msg = DM.parseFrom(env_d, payload)
            walk(msg, env_d, fixture)

    def test_missing_required_rejected_by_real_runtime(self, spark):
        jvm, fd = _build_fd(spark)
        DM = jvm.org.sparkproject.connect.protobuf.DynamicMessage
        env_d = fd.findMessageTypeByName("Envelope")
        bad = encode_envelope({"origin": "envX"})  # no event_type
        with pytest.raises(Exception):
            DM.parseFrom(env_d, bad)


class TestDecoderSwitch:
    def test_descriptor_bytes_stable_and_written(self, tmp_path):
        a, b = descriptor_set_bytes(), descriptor_set_bytes()
        assert a == b and len(a) > 400
        p = write_descriptor_set(str(tmp_path / "env.desc"))
        assert open(p, "rb").read() == a
        # idempotent rewrite
        assert write_descriptor_set(p) == p

    def test_select_decoder(self, spark):
        assert select_protobuf_decoder(spark, "arrow") is decode_protobuf_records
        picked = select_protobuf_decoder(spark, "jvm")
        assert callable(picked)
        if jvm_protobuf_available(spark):
            assert picked is decode_protobuf_records_jvm
        else:
            # honest fallback in environments without spark-protobuf
            assert picked is decode_protobuf_records
        with pytest.raises(ValueError, match="unknown protobuf decoder"):
            select_protobuf_decoder(spark, "thrift")

    def test_cross_decoder_identity_when_jvm_available(self, spark):
        if not jvm_protobuf_available(spark):
            pytest.skip("spark-protobuf SQL module not on the classpath")
        from pyspark.sql import functions as F

        rows = [
            ("s-0", str(i), None, "2024-01-01 00:00:00",
             bytearray(encode_envelope(fx)))
            for i, fx in enumerate(_FIXTURES)
        ] + [("s-0", "bad", None, "2024-01-01 00:00:00",
              bytearray(b"\xff\xff\xff"))]
        raw = spark.createDataFrame(
            rows,
            "shard_id string, sequence_number string, partition_key "
            "string, arrival_ts string, data binary",
        ).withColumn("arrival_ts", F.to_timestamp("arrival_ts"))
        a = decode_protobuf_records(raw).orderBy("sequence_number").collect()
        b = decode_protobuf_records_jvm(raw).orderBy("sequence_number").collect()
        assert [r.asDict(recursive=True) for r in a] == [
            r.asDict(recursive=True) for r in b
        ]


class TestStreamConfigDecoderString:
    def test_resolve_decoder_strings(self, spark):
        # the decoder is a callable only: the JSON stand-in by default,
        # and any other decoder (select_protobuf_decoder(spark, "jvm")
        # for the JVM route) is passed in and used as-is
        from cga_kinesis_to_elasticsearch_spark.sources.records import (
            decode_records,
        )
        from cga_kinesis_to_elasticsearch_spark.streaming.job import (
            StreamConfig,
        )

        assert StreamConfig().decoder is decode_records
        sentinel = lambda df: df  # noqa: E731
        assert StreamConfig(decoder=sentinel).decoder is sentinel
