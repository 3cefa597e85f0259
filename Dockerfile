# Container deploy for the graft CDC plane — the packaging surface the
# reference ships (single-process `watch` service). Spark IS the runtime
# here, so the official Apache Spark image provides every dependency and
# the application jar stays THIN (`sbt package`; the library has zero
# runtime dependencies beyond Spark itself, so no assembly/shading stage
# is needed — check `build.sbt`).
#
# Build:
#   sbt package
#   docker build -t graft-cdc .
# Run (local mode, all cores; point --in at your Redis):
#   docker run --rm -v $PWD/config.yaml:/app/config.yaml graft-cdc
# Or against a cluster, use the same jar with spark-submit directly:
#   spark-submit --class graft.Main --master <master> \
#     target/scala-2.13/cdcdedupespark_2.13-0.1.0.jar \
#     watch --config config.yaml \
#     --in redis://<host>:6379 --checkpoint /ckpt/graft
#
# Pick the tag matching your Spark build (Scala 2.13 / Java 17).
FROM apache/spark:4.1.2-scala2.13-java17-ubuntu

WORKDIR /app
COPY target/scala-2.13/cdcdedupespark_2.13-0.1.0.jar /app/graft.jar
COPY config.example.yaml /app/config.yaml

# Streaming checkpoints live under /ckpt — mount a volume to survive
# container restarts (exactly-once source replay depends on it).
VOLUME ["/ckpt"]

ENTRYPOINT ["/opt/spark/bin/spark-submit", \
  "--class", "graft.Main", \
  "--master", "local[*]", \
  "/app/graft.jar"]
CMD ["watch", "--config", "/app/config.yaml", \
  "--in", "redis://redis:6379", "--checkpoint", "/ckpt/graft"]
