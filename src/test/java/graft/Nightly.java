package graft;

import java.lang.annotation.ElementType;
import java.lang.annotation.Inherited;
import java.lang.annotation.Retention;
import java.lang.annotation.RetentionPolicy;
import java.lang.annotation.Target;
import org.scalatest.TagAnnotation;

/**
 * Class-level ScalaTest tag for the long-exposure suites (the curation
 * twin replays and the registry smoke, determinism, corrupt-input and
 * empty-input sweeps): excluded
 * from the DEFAULT {@code sbt test} tier so a bounded test window gets a
 * COMPLETED run with a summary line. Run the full set with
 * {@code SPARK_GRAFT_TEST_FULL=1 sbt test}.
 */
@TagAnnotation
@Inherited
@Retention(RetentionPolicy.RUNTIME)
@Target({ElementType.TYPE})
public @interface Nightly {}
