# Sourced by the java-launching tool scripts: sets ADD_OPENS to the JDK 17
# module flags Spark 4 needs when a SparkSession is created outside
# spark-submit (matches build.sbt's jdk17AddOpens).
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
